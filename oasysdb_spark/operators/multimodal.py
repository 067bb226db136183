"""Multimodal columns: images/audio/video as opaque ``binary`` columns with
typed metadata, processed through Arrow-batched ``mapInPandas`` pipelines.

The codec layer is REAL: :func:`decode_image` natively parses binary PPM
(P6), 24-bit uncompressed BMP, and 8-bit non-interlaced PNG (stdlib zlib
inflate + all five scanline filters — no external imaging library), and
the pixel-feature pipeline (:func:`extract_pixel_features`, driver query
``multimodal_pixel_stats``) runs decode → features end-to-end against a
DuckDB oracle. JPEG and exotic PNG variants (16-bit, Adam7) fall back to
Pillow when installed and otherwise raise NotImplementedError — that
entropy coding is what PIL/libvips/ffmpeg would plug in for.
:func:`fake_decode_stats` remains the byte-level stand-in for opaque
formats.

At scale the pattern matters more than the codec: media bytes stay in
executor-side Arrow batches end-to-end (never driver-side), batch size is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition
of large blobs can't OOM an executor, and derived features land in plain
columns where every downstream operator (dedup, ANN, filters) applies.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oasysdb_spark.sources.tables import read_parquet_cached, prepared
from oasysdb_spark.functions.stats import round6
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("media_type", T.StringType(), False),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            False,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_mean", T.DoubleType(), False),
        T.StructField("byte_std", T.DoubleType(), False),
        T.StructField("entropy8", T.DoubleType(), False),
    ]
)


def encode_ppm(arr) -> bytes:
    """Encode an ``(h, w, 3)`` uint8 array as binary PPM (P6)."""
    import numpy as np

    a = np.ascontiguousarray(np.asarray(arr, dtype=np.uint8))
    h, w, c = a.shape
    if c != 3:
        raise ValueError("PPM encodes RGB (h, w, 3)")
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def encode_bmp(arr) -> bytes:
    """Encode an ``(h, w, 3)`` uint8 RGB array as a 24-bit uncompressed
    BMP (BITMAPINFOHEADER, bottom-up rows, BGR, 4-byte row padding)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += a[y, :, ::-1].tobytes()  # RGB -> BGR
        body += b"\x00" * pad
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(body), 0, 0, offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + bytes(body)


def _decode_ppm(content: bytes):
    """Parse binary PPM (P6): whitespace/comment-tolerant header, then
    ``w*h*3`` raw bytes."""
    import numpy as np

    pos = 2  # past magic
    fields = []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("only 8-bit PPM supported")
    pix = np.frombuffer(content, dtype=np.uint8, count=w * h * 3, offset=pos)
    return pix.reshape(h, w, 3).copy()


def _decode_bmp(content: bytes):
    """Parse 24-bit uncompressed BMP (BITMAPINFOHEADER) into RGB."""
    import struct

    import numpy as np

    offset = struct.unpack_from("<I", content, 10)[0]
    w, h_signed = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP supported")
    h = abs(h_signed)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(content, dtype=np.uint8, count=stride * h, offset=offset)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_wav(samples, sample_rate: int = 16_000) -> bytes:
    """Encode a 1-D int16 array as a mono PCM WAV (RIFF) file."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(pcm),
    )
    return hdr + pcm


def decode_audio(content: bytes):
    """Decode a PCM WAV file into ``(samples int16 ndarray, sample_rate)``
    — pure RIFF chunk parsing + numpy, no audio library. Covers the
    uncompressed format (format tag 1, 16-bit); compressed codecs raise
    NotImplementedError (the ffmpeg integration point)."""
    import struct

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE file: external codec required")
    pos = 12
    fmt = None
    while pos + 8 <= len(content):
        cid, size = struct.unpack_from("<4sI", content, pos)
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk before fmt chunk")
            tag, channels, rate, _, _, bits = fmt
            if tag != 1 or bits != 16:
                raise NotImplementedError(
                    "only 16-bit PCM WAV decodes natively; compressed audio "
                    "needs an external codec"
                )
            samples = np.frombuffer(body, dtype="<i2")
            if channels > 1:
                samples = samples.reshape(-1, channels).mean(axis=1).astype("<i2")
            return samples.copy(), rate
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    raise ValueError("WAV file has no data chunk")


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_s", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("peak", T.IntegerType(), False),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Real audio decode → features inside Arrow batches: duration, RMS
    level, and peak amplitude per clip."""
    import numpy as np

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                samples, rate = decode_audio(bytes(content))
                n = len(samples)
                x = samples.astype(np.float64)
                rows.append(
                    (
                        int(media_id),
                        int(rate),
                        n,
                        n / float(rate),
                        float(np.sqrt((x * x).mean())) if n else 0.0,
                        int(np.abs(samples).max()) if n else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_samples",
                    "duration_s", "rms", "peak",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        _extract, schema=AUDIO_FEATURE_SCHEMA
    )


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def encode_png(arr) -> bytes:
    """Encode an ``(h, w, 3)`` uint8 RGB array as an 8-bit truecolor PNG
    (filter-0 scanlines, single zlib IDAT) — stdlib struct+zlib only."""
    import struct
    import zlib

    import numpy as np

    a = np.ascontiguousarray(np.asarray(arr, dtype=np.uint8))
    h, w, c = a.shape
    if c != 3:
        raise ValueError("PNG encoder takes RGB (h, w, 3)")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_png(content: bytes):
    """Pure-stdlib PNG decode: chunk walk, zlib inflate, scanline
    unfilter (all five filter types), channel normalization to RGB.
    Covers 8-bit non-interlaced grayscale / RGB / palette / gray+alpha /
    RGBA — i.e. what PNG encoders actually emit; 16-bit and Adam7 raise
    NotImplementedError so the caller can try the Pillow fallback."""
    import struct
    import zlib

    import numpy as np

    pos, w = 8, None
    idat = bytearray()
    palette = None
    while pos + 8 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
                raise NotImplementedError(
                    "only 8-bit non-interlaced PNG decodes natively"
                )
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunks")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise NotImplementedError(f"PNG color type {color} not supported")

    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload has the wrong size")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = bytearray(stride)
    pos = 0
    for y in range(h):
        f = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if f == 0:
            pass
        elif f == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {f}")
        prev = line
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)

    px = out.reshape(h, w, channels)
    if color == 2:  # RGB
        return px.copy()
    if color == 6:  # RGBA -> drop alpha
        return px[:, :, :3].copy()
    if color == 0:  # grayscale -> replicate
        return np.repeat(px, 3, axis=2).copy()
    if color == 4:  # gray+alpha -> replicate luma
        return np.repeat(px[:, :, :1], 3, axis=2).copy()
    # color == 3: palette lookup
    if palette is None:
        raise ValueError("paletted PNG without PLTE chunk")
    return palette[px[:, :, 0]].copy()


GIF_SIGNATURES = (b"GIF87a", b"GIF89a")


def encode_gif(arr) -> bytes:
    """Encode an ``(h, w, 3)`` uint8 RGB array (≤256 distinct colors —
    GIF is palette-indexed) as a single-frame GIF89a with a REAL LZW
    stream (growing dictionary, variable code width, clear-on-full), so
    decoding it exercises the same paths a wild GIF does. Stdlib only."""
    import struct

    import numpy as np

    a = np.ascontiguousarray(np.asarray(arr, dtype=np.uint8))
    h, w, c = a.shape
    if c != 3:
        raise ValueError("GIF encoder takes RGB (h, w, 3)")
    colors, inverse = np.unique(a.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("GIF encoder takes <=256 distinct colors")
    size = max(2, 1 << max(1, (len(colors) - 1).bit_length()))
    pal = np.zeros((size, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    gct_bits = size.bit_length() - 1  # palette has 2**gct_bits entries

    mcs = max(2, gct_bits)  # LZW minimum code size
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    codes = [(clear, width)]
    buf: tuple = ()
    for px in inverse.tolist():
        cand = buf + (px,)
        if cand in table:
            buf = cand
            continue
        codes.append((table[buf], width))
        table[cand] = next_code
        # width-growth rule mirrors the decoder: it widens after ITS
        # dictionary reaches 2**width, which lags the encoder's by one —
        # so grow when the code just added IS 2**width
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        if next_code >= 4095:  # table nearly full: reset like real encoders
            codes.append((clear, width))
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
        buf = (px,)
    if buf:
        codes.append((table[buf], width))
    codes.append((eoi, width))

    val = nbits = 0
    packed = bytearray()
    for code, cw in codes:  # GIF packs LSB-first
        val |= code << nbits
        nbits += cw
        while nbits >= 8:
            packed.append(val & 0xFF)
            val >>= 8
            nbits -= 8
    if nbits:
        packed.append(val & 0xFF)

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((gct_bits - 1) << 4) | (gct_bits - 1), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(mcs)
    for i in range(0, len(packed), 255):
        block = packed[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int) -> "list[int]":
    """Full GIF LZW decode: growing dictionary, variable code width
    (grows when the dict reaches 2**width, caps at 12 bits / 4096 codes
    with deferred-clear handling), clear + end-of-information codes."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table: dict[int, list[int]] = {i: [i] for i in range(clear)}
    next_code = eoi + 1
    prev: "list[int] | None" = None
    out: list[int] = []
    # incremental LSB-first bit buffer (the mirror of encode_gif's
    # packer): consume bytes as needed so decode stays LINEAR — shifting
    # one whole-stream big int per code would be O(n^2) and takes tens
    # of seconds on a few-hundred-KB GIF
    acc = nbits = 0
    pos_byte = 0
    n_bytes = len(data)
    while True:
        while nbits < width and pos_byte < n_bytes:
            acc |= data[pos_byte] << nbits
            nbits += 8
            pos_byte += 1
        if nbits < width:
            break
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = {i: [i] for i in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + [prev[0]]  # the KwKwK case
        else:
            raise NotImplementedError("corrupt GIF LZW stream")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + [entry[0]]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        out.extend(entry)
        prev = entry
    return out


def _decode_gif(content: bytes):
    """Pure-stdlib GIF decode: logical-screen walk, global/local color
    table, extension-block skip, full LZW inflate, palette lookup to RGB.
    First image frame only; interlaced images raise NotImplementedError
    so the caller can try the Pillow fallback."""
    import struct

    import numpy as np

    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(content[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(content):
        marker = content[pos]
        pos += 1
        if marker == 0x21:  # extension: label byte then sub-blocks
            pos += 1
            while content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
        elif marker == 0x2C:  # image descriptor
            _l, _t, iw, ih, iflags = struct.unpack_from("<HHHHB", content, pos)
            pos += 9
            if iflags & 0x40:
                raise NotImplementedError("interlaced GIF outside the native tier")
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = np.frombuffer(
                    content[pos : pos + 3 * n], np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise NotImplementedError("GIF without a color table")
            mcs = content[pos]
            pos += 1
            data = bytearray()
            while content[pos] != 0:
                ln = content[pos]
                data += content[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw_decode(bytes(data), mcs)
            if len(idx) < iw * ih:
                raise NotImplementedError("truncated GIF pixel data")
            arr = pal[np.asarray(idx[: iw * ih], dtype=np.int32)]
            return np.ascontiguousarray(arr.reshape(ih, iw, 3))
        elif marker == 0x3B:  # trailer
            break
        else:
            raise NotImplementedError("unparseable GIF block")
    raise NotImplementedError("GIF without image data")


def _pillow_decode(content: bytes):
    """Decode via Pillow when it is importable (the optional external-codec
    FALLBACK for JPEG, 16-bit/interlaced PNG, …); returns None when Pillow
    is absent — or when Pillow itself cannot parse the bytes — so the
    caller falls through to the documented NotImplementedError boundary
    instead of leaking PIL's exception types into the contract."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None
    import numpy as np

    try:
        with Image.open(io.BytesIO(content)) as img:
            return np.asarray(img.convert("RGB"), dtype=np.uint8).copy()
    except Exception:
        return None


def decode_image(content: bytes):
    """Decode an encoded image into an ``(h, w, 3)`` uint8 RGB array.

    Native (no external library): binary PPM (P6), 24-bit uncompressed
    BMP, 8-bit non-interlaced PNG (stdlib zlib inflate + scanline
    unfilter — :func:`_decode_png`), and non-interlaced GIF (full LZW
    inflate — :func:`_decode_gif`). Whatever the native tier can't parse
    (JPEG, 16-bit/interlaced PNG, corrupt bytes) goes to Pillow when it
    is importable — the optional external-codec fallback — and otherwise
    raises NotImplementedError at the documented entropy-coding boundary;
    everything downstream of this function is format-agnostic."""
    if content[:2] == b"P6":
        return _decode_ppm(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content[: len(PNG_SIGNATURE)] == PNG_SIGNATURE:
        try:
            return _decode_png(content)
        except Exception:
            decoded = _pillow_decode(content)
            if decoded is not None:
                return decoded
            raise NotImplementedError(
                "PNG variant outside the native tier (16-bit, interlaced, or "
                "corrupt) and no external codec (Pillow) is installed"
            ) from None
    if content[:6] in GIF_SIGNATURES:
        try:
            return _decode_gif(content)
        except Exception:
            decoded = _pillow_decode(content)
            if decoded is not None:
                return decoded
            raise NotImplementedError(
                "GIF variant outside the native tier (interlaced, truncated, "
                "or corrupt) and no external codec (Pillow) is installed"
            ) from None
    decoded = _pillow_decode(content)
    if decoded is not None:
        return decoded
    raise NotImplementedError(
        "compressed/unknown image format: native decode covers PPM (P6), "
        "24-bit BMP, 8-bit PNG, and non-interlaced GIF; JPEG needs an "
        "external codec (Pillow, when installed)"
    )


def fake_decode_stats(content: bytes) -> tuple[int, float, float, float]:
    """Deterministic stand-in for decode + feature extraction: byte count,
    mean, std, and order-0 byte entropy."""
    import math

    import numpy as np

    arr = np.frombuffer(content, dtype=np.uint8)
    if arr.size == 0:
        return 0, 0.0, 0.0, 0.0
    counts = np.bincount(arr, minlength=256)
    p = counts[counts > 0] / arr.size
    entropy = float(-(p * np.log2(p)).sum())
    return int(arr.size), float(arr.mean()), float(arr.std()), entropy


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary media content.

    ``mapInPandas`` streams partition-local Arrow batches through Python;
    blobs never aggregate on the driver and the output is a narrow typed
    feature table suitable for joins/dedup downstream.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content, meta in zip(pdf["media_id"], pdf["content"], pdf["meta"]):
                n, mean, std, ent = fake_decode_stats(bytes(content))
                media_type = meta["media_type"] if isinstance(meta, dict) else meta[0]
                rows.append((int(media_id), media_type, n, mean, std, ent))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "media_type", "n_bytes", "byte_mean", "byte_std", "entropy8"],
            )

    # rounding happens JVM-side, never in the worker: python's round()
    # is half-EVEN, and a dyadic-rational byte_mean landing exactly on
    # the 6dp boundary (93.7265625 at sf0.1) rounded DOWN here while
    # DuckDB rounded up. The oracle-compared byte_mean takes round6.
    raw = media.mapInPandas(_extract, schema=FEATURE_SCHEMA)
    return raw.select(
        "media_id",
        "media_type",
        "n_bytes",
        round6(F.col("byte_mean")).alias("byte_mean"),
        F.round("byte_std", 6).alias("byte_std"),
        F.round("entropy8", 6).alias("entropy8"),
    )


PIXEL_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("pix_mean", T.DoubleType(), False),
        T.StructField("mean_r", T.DoubleType(), False),
        T.StructField("mean_g", T.DoubleType(), False),
        T.StructField("mean_b", T.DoubleType(), False),
    ]
)


def extract_pixel_features(media: DataFrame) -> DataFrame:
    """REAL decode → feature extraction: each blob is parsed by
    :func:`decode_image` (PPM/BMP native) inside Arrow batches and reduced
    to per-channel pixel means. Sums are exact integer sums divided once
    in double, so an oracle that recomputes them from the source bytes
    matches bit-for-bit. Raw doubles come back; rounding happens in the
    Spark plan (engine-identical ROUND contract)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                arr = decode_image(bytes(content))
                h, w, _ = arr.shape
                n = h * w
                rows.append(
                    (
                        int(media_id),
                        int(w),
                        int(h),
                        int(arr.sum()) / (n * 3.0),
                        int(arr[:, :, 0].sum()) / float(n),
                        int(arr[:, :, 1].sum()) / float(n),
                        int(arr[:, :, 2].sum()) / float(n),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "pix_mean",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        _extract, schema=PIXEL_FEATURE_SCHEMA
    )


def synthesize_ppm_media_from_documents(spark, sf_dir: str) -> DataFrame:
    """Deterministic REAL image blobs from the documents fixture: each
    doc's utf-8 bytes become the pixel payload of a 16-px-wide RGB image
    (zero-padded to whole rows) encoded as binary PPM. The blobs are
    genuine decodable images, so the full synth → encode → decode →
    feature path runs the actual codec."""
    import math

    import numpy as np

    @F.pandas_udf("binary")
    def _ppm(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            b = t.encode("utf-8")
            h = max(1, math.ceil(len(b) / 48))
            payload = b + b"\x00" * (h * 48 - len(b))
            out.append(encode_ppm(np.frombuffer(payload, np.uint8).reshape(h, 16, 3)))
        return pd.Series(out)

    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        _ppm(F.col("text")).alias("content"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("media_type"),
            F.lit(16).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def multimodal_pixel_stats(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query over the REAL codec path: synthesize PPM
    blobs → native decode → per-channel pixel means. The DuckDB oracle
    recomputes the same means from the document bytes (the pixel payload
    is the text bytes zero-padded to rows), so a header-parsing or
    channel-order bug in the decoder is a hash mismatch, not a silent
    pass."""
    media = synthesize_ppm_media_from_documents(spark, sf_dir)
    feats = extract_pixel_features(media)
    # each mean is an int-sum/count double from the decoder; display
    # rounds run JVM-side (python round() is half-even)
    return feats.select(
        F.col("media_id").cast("bigint").alias("media_id"),
        "width",
        "height",
        round6(F.col("pix_mean")).alias("pix_mean"),
        round6(F.col("mean_r")).alias("mean_r"),
        round6(F.col("mean_g")).alias("mean_g"),
        round6(F.col("mean_b")).alias("mean_b"),
    )


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: explode per-media frame indices
    (0, n, 2n, …) from metadata — the real pipeline would decode those
    frames via the codec stub; here the schedule itself is the output."""
    frames = F.filter(
        F.sequence(F.lit(0), F.coalesce(F.col("meta.n_frames"), F.lit(1)) - 1),
        lambda i: i % every_n == 0,
    )
    return media.select(
        "media_id",
        F.explode(frames).alias("frame_index"),
    )


def synthesize_media_from_documents(spark, sf_dir: str) -> DataFrame:
    """Deterministic fake media table built from the documents fixture
    (utf-8 text bytes standing in for encoded media) — gives the
    multimodal pipeline a reproducible input in any environment."""
    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("image/fake").alias("media_type"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.col("n_chars") % 100 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def load_media_dir(
    spark, path: str, glob: str = "*", media_type: str = "application/octet-stream"
) -> DataFrame:
    """Ingest a directory of media files through Spark's ``binaryFile``
    source into the MEDIA_SCHEMA shape: media_id = a 64-bit hash of the
    file path (stable across runs and executors), content = the raw
    bytes. This is how real image/audio corpora enter the pipeline — the
    source parallelizes over files and never funnels blobs through the
    driver."""
    from oasysdb_spark.functions.hashing import hash64

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return raw.select(
        hash64(F.col("path")).alias("media_id"),
        F.col("content"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


@prepared("multimodal_features")
def multimodal_features(spark, sf_dir: str) -> DataFrame:
    """Oracle-checkable end-to-end multimodal pipeline: synthesize media →
    Arrow-batched feature extraction → frame-sample schedule, joined into
    one narrow table. byte_std/entropy8 are computed but excluded from
    this surface — their float formulas differ across engines at ulp level
    and would make the hash-compare flaky; byte_mean is an exact integer
    sum divided once, identical everywhere."""
    media = synthesize_media_from_documents(spark, sf_dir)
    feats = extract_features(media).select(
        "media_id", "media_type", "n_bytes", "byte_mean"
    )
    frames = frame_sample(media).groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_sampled_frames")
    )
    return feats.join(frames, "media_id").select(
        F.col("media_id").cast("bigint").alias("media_id"),
        "media_type",
        "n_bytes",
        "byte_mean",
        "n_sampled_frames",
    )


def synthesize_ppm16_with_near_copies(spark, sf_dir: str) -> DataFrame:
    """Deterministic FIXED-SIZE (16×16) PPM blobs from the documents
    fixture, plus injected perceptual near-copies: every 10th doc also
    appears as ``media_id = doc_id + 100000`` with its FIRST payload
    byte incremented — a one-pixel perturbation, the minimal perceptual
    near-duplicate. Payload = utf-8 text bytes cropped/zero-padded to
    768 (= 16 rows × 16 px × RGB), so an oracle can recompute every
    pixel from the text column with integer math."""
    import numpy as np

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # ascii-replace: one byte per CHARACTER (non-ascii -> 63),
                # matching the oracle's per-char ascii() indexing; utf-8
                # multi-byte sequences would desync the two engines
                b = text.encode("ascii", errors="replace")[:768]
                payload = bytearray(b + b"\x00" * (768 - len(b)))
                arr = np.frombuffer(bytes(payload), np.uint8).reshape(16, 16, 3)
                rows.append((int(doc_id), encode_ppm(arr)))
                if doc_id % 10 == 0:
                    pert = bytearray(payload)
                    pert[0] = (pert[0] + 1) % 256
                    arr2 = np.frombuffer(bytes(pert), np.uint8).reshape(16, 16, 3)
                    rows.append((int(doc_id) + 100000, encode_ppm(arr2)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    # spread load (r15): the synthesis and every downstream per-blob
    # stage (hash/fingerprint extraction inherits this partitioning)
    # otherwise run on the single-file fixture's ONE split; conditional
    # no-op at corpus scale
    from oasysdb_spark.operators.dedup import load_documents

    docs = load_documents(spark, sf_dir, spread="rescue")
    return docs.select("doc_id", "text").mapInPandas(
        _gen, schema="media_id long, content binary"
    )


def extract_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash over the REAL codec path — the image
    near-dup primitive (the aHash/dHash family behind large-scale image
    dataset dedup): decode → integer RGB-sum plane → 2×2 box sums to an
    8×8 grid → 56-bit row-wise gradient sign hash (8 rows × 7 adjacent
    column comparisons; 56 bits keeps the value int64-safe in every
    engine). All integer math, so blobs with equal pixels hash equal and
    an oracle can replay the hash exactly. Requires 16×16 inputs (the
    fixed-size synth or any pre-resized corpus); row-local, no shuffle."""
    import numpy as np

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                arr = decode_image(bytes(content))
                if arr.shape[:2] != (16, 16):
                    from oasysdb_spark.errors import InvalidArgumentError

                    raise InvalidArgumentError(
                        f"extract_dhash expects 16x16 images, got {arr.shape}"
                    )
                plane = arr.astype(np.int64).sum(axis=2)  # rgb sum, ints
                block = plane.reshape(8, 2, 8, 2).sum(axis=(1, 3))
                h = 0
                for r in range(8):
                    for c in range(7):
                        if block[r, c] > block[r, c + 1]:
                            h |= 1 << (r * 7 + c)
                rows.append((int(media_id), h))
            yield pd.DataFrame(rows, columns=["media_id", "dhash"])

    return media.select("media_id", "content").mapInPandas(
        _extract, schema="media_id long, dhash long"
    )


def extract_dhash_wide(media: DataFrame) -> DataFrame:
    """256-bit PDQ-style perceptual gradient hash — the production-scale
    variant of :func:`extract_dhash` (same decode path, same integer
    discipline): decode → integer RGB-sum 16×16 plane → per-row
    horizontal gradient signs with wraparound (16 rows × 16 comparisons
    = 256 bits), packed little-endian into ``dhash_words:
    array<bigint>`` of four signed int64 words (bit k → word k//64,
    offset k%64). Why it exists: banding a 56-bit hash at hamming ≤ 3
    leaves 14-bit bands, so random collisions grow ~n²/2¹⁴ — measured
    8.0× per 10× data; the same 4-band pigeonhole over 256 bits gives
    64-bit bands and ~n²/2⁶⁴ random collisions, i.e. candidates ≈ true
    near-dups only, at ANY corpus size. All integer math; row-local."""
    import numpy as np

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                arr = decode_image(bytes(content))
                if arr.shape[:2] != (16, 16):
                    from oasysdb_spark.errors import InvalidArgumentError

                    raise InvalidArgumentError(
                        f"extract_dhash_wide expects 16x16 images, got {arr.shape}"
                    )
                plane = arr.astype(np.int64).sum(axis=2)
                # vectorized gradient signs: bit r*16+c set iff
                # plane[r,c] > plane[r,(c+1)%16] (wraparound column)
                bits = (plane > np.roll(plane, -1, axis=1)).reshape(-1)
                weights = np.left_shift(
                    np.uint64(1), np.arange(64, dtype=np.uint64)
                )
                words = [
                    int(
                        np.bitwise_or.reduce(
                            weights[bits[64 * w : 64 * w + 64]]
                        ).astype(np.int64)
                    )
                    if bits[64 * w : 64 * w + 64].any()
                    else 0
                    for w in range(4)
                ]
                rows.append((int(media_id), words))
            yield pd.DataFrame(rows, columns=["media_id", "dhash_words"])

    return media.select("media_id", "content").mapInPandas(
        _extract, schema="media_id long, dhash_words array<long>"
    )


# banded_hamming_pairs_wide moved to operators/dedup.py in r6 (it is
# generic over any multi-word hash — the wide simhash tier uses it too);
# re-exported here for the multimodal call sites and tests.
from oasysdb_spark.operators.dedup import banded_hamming_pairs_wide  # noqa: E402

def _wide_band_cols(words_col: str, max_hamming: int):
    """Contiguous-band split of a 256-bit word-array hash, width derived
    from the hamming budget: the smallest band count in {4,8,16,32}
    that exceeds ``max_hamming`` (pigeonhole needs > max_hamming bands;
    power-of-two counts keep bands word-aligned). The ladder starts at
    4 — a 2-band split would need 128-bit band values, which neither a
    64-bit Spark literal nor a single ``element_at`` word read can
    express (r7 fix: ``max_hamming ≤ 1`` previously crashed here); 4
    bands of 64 bits still satisfy the pigeonhole for every budget ≤ 3
    and each band reads exactly one word. Returns (names, exprs);
    rejects budgets past 31 (bands would drop under 8 bits and stop
    discriminating)."""
    from oasysdb_spark.errors import InvalidArgumentError

    n_bands = next((d for d in (4, 8, 16, 32) if d > max_hamming), None)
    if n_bands is None:
        raise InvalidArgumentError(
            "wide banding supports max_hamming <= 31 (32 bands of 8 bits)"
        )
    width = 256 // n_bands
    names, exprs = [], []
    for j in range(n_bands):
        bit = j * width
        word, off = bit // 64, bit % 64
        e = F.element_at(F.col(words_col), word + 1)
        if width == 64:
            pass  # the whole word IS the band
        else:
            # arithmetic shift then mask: sign-extended high bits are
            # masked away, so the band value is exact for width < 64
            e = F.shiftright(e, off).bitwiseAND(F.lit((1 << width) - 1))
        names.append(f"wb{j}")
        exprs.append(e.alias(f"wb{j}"))
    return names, exprs


def multimodal_dhash_dedup(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: perceptual dedup end-to-end through the
    real codec — fixed-size PPM synthesis (with injected one-pixel
    near-copies) → native decode → dHash → per-hash group sizes. An
    injected copy whose perturbation doesn't flip any gradient sign
    lands in its source's hash group (group_size ≥ 2) — exactly how
    exact-perceptual dedup collapses re-encodes and trivial edits.
    Output: ``(media_id, dhash, n_same)``."""
    media = synthesize_ppm16_with_near_copies(spark, sf_dir)
    hashed = extract_dhash(media)
    sizes = hashed.groupBy("dhash").agg(F.count("*").alias("n_same"))
    return hashed.join(sizes, "dhash").select(
        "media_id", "dhash", F.col("n_same").cast("bigint").alias("n_same")
    )


def multimodal_dhash_near_pairs(
    spark,
    sf_dir: str,
    max_hamming: int = 3,
    top_n: int = 50,
    hash_bits: int = 256,
) -> DataFrame:
    """Perceptual NEAR-dup pairs over the dHash: banded candidates
    (pigeonhole: hamming ≤ budget over b bands forces at least one
    untouched band) verified by exact ``bit_count(xor)`` — the shared
    :func:`oasysdb_spark.operators.dedup.banded_hamming_pairs` shape,
    never an all-pairs comparison; the DuckDB oracle IS the quadratic
    join, so a candidate lost by the banding would surface as a missing
    row, not a silent pass. Budgets past each path's pigeonhole bound
    are rejected instead of silently dropping pairs. Returns
    ``(media_a, media_b, hamming)``, ties broken by ids.

    ``hash_bits`` picks the hash width — the scale lever:

    - 256 (**default since r7** — :func:`extract_dhash_wide`,
      PDQ-style): band count derives from the hamming budget
      (``_wide_band_cols``) so hamming ≤ 3 gets four 64-bit bands ⇒
      random collisions ~n²/2⁶⁴ ≈ none — candidates are the true
      near-dups at any corpus size, and wider budgets (to 31) stay
      exhaustive by adding narrower bands. Supports any
      ``max_hamming ≤ 31``.
    - 56 (the pre-r7 default, kept as the narrow twin): four 14-bit
      quarters ⇒ random band collisions ~n²/2¹⁴ — fine to ~10⁵ images
      but measured 8.0× per 10× data at the sf0.1→sf1 rung, which is
      why the default flipped (README "Breaking-default changelog").
      Hamming semantics differ between widths only in resolution (256
      gradient signs vs 56); recall on the injected one-pixel
      near-copies is gated equal in pytest."""
    from oasysdb_spark.operators.dedup import banded_hamming_pairs

    if hash_bits == 256:
        media = synthesize_ppm16_with_near_copies(spark, sf_dir)
        hw = extract_dhash_wide(media)
        names, exprs = _wide_band_cols("dhash_words", max_hamming)
        hw = hw.select("media_id", "dhash_words", *exprs)
        return banded_hamming_pairs_wide(
            hw,
            id_col="media_id",
            words_col="dhash_words",
            band_cols=names,
            max_hamming=max_hamming,
            top_n=top_n,
            out_names=("media_a", "media_b"),
            n_words=4,
        )
    if hash_bits != 56:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(
            f"hash_bits must be 56 or 256, got {hash_bits}"
        )
    if max_hamming > 3:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(
            "4-quarter banding is exhaustive only for max_hamming <= 3 "
            "(pigeonhole); add bands for larger thresholds"
        )
    media = synthesize_ppm16_with_near_copies(spark, sf_dir)
    h = extract_dhash(media)
    quarters = [(f"q{i}", i * 14) for i in range(4)]
    h = h.select(
        "media_id",
        "dhash",
        *[
            (F.shiftright(F.col("dhash"), sh).bitwiseAND(F.lit(0x3FFF))).alias(n)
            for n, sh in quarters
        ],
    )
    return banded_hamming_pairs(
        h,
        id_col="media_id",
        hash_col="dhash",
        band_cols=[n for n, _ in quarters],
        max_hamming=max_hamming,
        top_n=top_n,
        out_names=("media_a", "media_b"),
    )


def synthesize_wav_media_from_documents(spark, sf_dir: str) -> DataFrame:
    """Deterministic REAL audio blobs from the documents fixture, plus
    injected near-copies: sample ``i`` of a doc's clip is
    ``(byte_i - 64) * 256`` (utf-8 text bytes; byte value 0 past the end
    of the text, so the padded tail sits at the -16384 floor — a
    constant both engines reproduce), 4096 samples of 16 kHz mono PCM
    WAV. Every 10th doc also appears as
    ``media_id = doc_id + 100000`` with its FIRST sample perturbed by
    one byte step — the minimal audible edit. Integer-exact formula, so
    an oracle recomputes every sample from the text column."""
    import numpy as np

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = np.zeros(4096, dtype=np.int64)
                raw = text.encode("ascii", errors="replace")[:4096]
                b[: len(raw)] = np.frombuffer(raw, np.uint8)
                samples = ((b - 64) * 256).astype("<i2")
                rows.append((int(doc_id), encode_wav(samples, 16_000)))
                if doc_id % 10 == 0:
                    pert = samples.copy()
                    pert[0] = int(pert[0]) + 256  # one byte step
                    rows.append((int(doc_id) + 100000, encode_wav(pert, 16_000)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    # spread load (r15): the synthesis and every downstream per-blob
    # stage (hash/fingerprint extraction inherits this partitioning)
    # otherwise run on the single-file fixture's ONE split; conditional
    # no-op at corpus scale
    from oasysdb_spark.operators.dedup import load_documents

    docs = load_documents(spark, sf_dir, spread="rescue")
    return docs.select("doc_id", "text").mapInPandas(
        _gen, schema="media_id long, content binary"
    )


def extract_audio_fingerprint(media: DataFrame) -> DataFrame:
    """Energy-contour audio fingerprint through the REAL WAV codec — the
    audio analog of :func:`extract_dhash` (the simplification of the
    spectral fingerprints behind audio dedup/retrieval): decode → first
    456 samples (floor-padded) → 57 frames × 8 samples → integer
    absolute-energy per frame → 56-bit contour hash (bit f set when
    frame f's energy exceeds frame f+1's; 56 bits keeps int64-safe
    parity with the image tier). Short frames matter: with the fixture's
    ~300-sample signal region, 64-sample frames left only ~5
    informative comparisons and 500 docs collapsed to 61 fingerprints —
    8-sample frames put most of the 56 comparisons inside the signal.
    All integer math — equal clips hash equal and an oracle replays the
    hash exactly. Row-local, no shuffle."""
    import numpy as np

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                samples, _rate = decode_audio(bytes(content))
                x = np.zeros(456, dtype=np.int64)
                n = min(len(samples), 456)
                x[:n] = samples[:n]
                energy = np.abs(x).reshape(57, 8).sum(axis=1)
                h = 0
                for f in range(56):
                    if energy[f] > energy[f + 1]:
                        h |= 1 << f
                rows.append((int(media_id), h))
            yield pd.DataFrame(rows, columns=["media_id", "fingerprint"])

    return media.select("media_id", "content").mapInPandas(
        _extract, schema="media_id long, fingerprint long"
    )


def multimodal_audio_fingerprints(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: audio dedup end-to-end through the real
    WAV codec — synthesis (with injected one-sample near-copies) →
    decode → energy-contour fingerprint → per-fingerprint group sizes.
    Output: ``(media_id, fingerprint, n_same)``."""
    media = synthesize_wav_media_from_documents(spark, sf_dir)
    fp = extract_audio_fingerprint(media)
    sizes = fp.groupBy("fingerprint").agg(F.count("*").alias("n_same"))
    return fp.join(sizes, "fingerprint").select(
        "media_id", "fingerprint", F.col("n_same").cast("bigint").alias("n_same")
    )


# ---------------------------------------------------------------------------
# Video tier: YUV4MPEG2 (y4m) — the uncompressed interchange format, the
# same role PPM plays for images and PCM WAV for audio. Entropy-coded
# video (H.264/VP9/AV1) stays behind the documented NotImplementedError
# boundary (the ffmpeg integration point); everything downstream of
# decode_video is codec-agnostic.
# ---------------------------------------------------------------------------

Y4M_MAGIC = b"YUV4MPEG2"

# colorspace -> (chroma width divisor, chroma height divisor)
_Y4M_CHROMA = {
    "420": (2, 2),
    "420jpeg": (2, 2),
    "420mpeg2": (2, 2),
    "420paldv": (2, 2),
    "422": (2, 1),
    "444": (1, 1),
}


def encode_y4m(frames, fps=(25, 1), colorspace: str = "420") -> bytes:
    """Encode frames as YUV4MPEG2. ``frames`` is a list of (y, u, v)
    uint8 plane arrays — y shaped (h, w), chroma shaped per the
    colorspace's subsampling; ``colorspace='mono'`` takes (y, None,
    None). Pure struct/bytes, no media library."""
    import numpy as np

    if not frames:
        raise ValueError("y4m needs at least one frame")
    y0 = np.asarray(frames[0][0], dtype=np.uint8)
    h, w = y0.shape
    head = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C{colorspace}\n"
    out = [head.encode("ascii")]
    for y, u, v in frames:
        out.append(b"FRAME\n")
        out.append(np.asarray(y, dtype=np.uint8).tobytes())
        if colorspace != "mono":
            out.append(np.asarray(u, dtype=np.uint8).tobytes())
            out.append(np.asarray(v, dtype=np.uint8).tobytes())
    return b"".join(out)


def decode_y4m(content: bytes):
    """Decode YUV4MPEG2 bytes → (frames, meta): ``frames`` is a list of
    (y, u, v) uint8 ndarrays ((h, w) luma + subsampled chroma; chroma is
    None for mono), ``meta`` has width/height/fps_num/fps_den/
    colorspace/n_frames. Content-length framing is exact — a truncated
    final frame raises ValueError rather than yielding a short plane."""
    import numpy as np

    nl = content.find(b"\n")
    if nl == -1 or not content.startswith(Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    fn, fd = 25, 1
    cs = "420"
    for tokraw in content[len(Y4M_MAGIC) : nl].split(b" "):
        tok = tokraw.decode("ascii", errors="replace")
        if not tok:
            continue
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            fn, fd = (int(x) for x in tok[1:].split(":"))
        elif tok[0] == "C":
            cs = tok[1:]
    if w is None or h is None:
        raise ValueError("y4m header missing W/H")
    if cs == "mono":
        u_size = 0
        cw = ch = 0
    else:
        div = _Y4M_CHROMA.get(cs)
        if div is None:
            raise NotImplementedError(f"y4m colorspace C{cs} not supported")
        if w % div[0] or h % div[1]:
            raise ValueError(f"C{cs} requires dimensions divisible by {div}")
        cw, ch = w // div[0], h // div[1]
        u_size = cw * ch
    y_size = w * h
    frames = []
    pos = nl + 1
    n = len(content)
    while pos < n:
        fnl = content.find(b"\n", pos)
        if fnl == -1 or not content[pos : pos + 5] == b"FRAME":
            raise ValueError("y4m frame marker missing or corrupt")
        body = fnl + 1
        end = body + y_size + 2 * u_size
        if end > n:
            raise ValueError("y4m truncated mid-frame")
        y = np.frombuffer(content[body : body + y_size], np.uint8).reshape(h, w)
        if u_size:
            u = np.frombuffer(
                content[body + y_size : body + y_size + u_size], np.uint8
            ).reshape(ch, cw)
            v = np.frombuffer(
                content[body + y_size + u_size : end], np.uint8
            ).reshape(ch, cw)
        else:
            u = v = None
        frames.append((y, u, v))
        pos = end
    if not frames:
        # a header-only stream is corrupt, not a zero-length video:
        # callers divide by the frame count
        raise ValueError("y4m stream contains no frames")
    meta = {
        "width": w,
        "height": h,
        "fps_num": fn,
        "fps_den": fd,
        "colorspace": cs,
        "n_frames": len(frames),
    }
    return frames, meta


def decode_video(content: bytes):
    """Format dispatch for video blobs, mirroring :func:`decode_image`:
    YUV4MPEG2 decodes natively; entropy-coded containers (MP4/WebM/MKV)
    raise NotImplementedError at the external-codec (ffmpeg) boundary."""
    if content[: len(Y4M_MAGIC)] == Y4M_MAGIC:
        return decode_y4m(content)
    raise NotImplementedError(
        "compressed/unknown video container: native decode covers "
        "YUV4MPEG2 (y4m); H.264/VP9/AV1 need an external codec (ffmpeg)"
    )


VIDEO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("fps", T.DoubleType(), False),
        T.StructField("n_sampled", T.IntegerType(), False),
        T.StructField("luma_mean", T.DoubleType(), False),
        T.StructField("motion", T.DoubleType(), False),
    ]
)


def extract_video_features(media: DataFrame, every_n: int = 10) -> DataFrame:
    """REAL video decode → per-asset features, Arrow-batched: every
    ``every_n``-th frame is decoded (the :func:`frame_sample` schedule,
    applied inside the codec so unsampled frame bytes are skipped, not
    materialized), reduced to mean luma over sampled frames and a
    motion proxy — mean absolute luma difference between consecutive
    sampled frames (0.0 for single-frame assets). Sums are exact
    integer sums divided once in double, same oracle contract as the
    image tier. Blobs never transit the driver."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                frames, meta = decode_video(bytes(content))
                sampled = frames[::every_n]
                lsum = sum(int(y.sum()) for y, _, _ in sampled)
                npix = meta["width"] * meta["height"]
                luma_mean = lsum / float(npix * len(sampled))
                if len(sampled) > 1:
                    dsum = sum(
                        int(
                            abs(
                                a[0].astype("int16") - b[0].astype("int16")
                            ).sum()
                        )
                        for a, b in zip(sampled, sampled[1:])
                    )
                    motion = dsum / float(npix * (len(sampled) - 1))
                else:
                    motion = 0.0
                rows.append(
                    (
                        int(media_id),
                        meta["width"],
                        meta["height"],
                        meta["n_frames"],
                        meta["fps_num"] / float(meta["fps_den"]),
                        len(sampled),
                        luma_mean,
                        motion,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_frames",
                    "fps", "n_sampled", "luma_mean", "motion",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        _extract, schema=VIDEO_FEATURE_SCHEMA
    )


def synthesize_y4m_media_from_documents(spark, sf_dir: str) -> DataFrame:
    """Deterministic REAL video blobs from the documents fixture: each
    doc's utf-8 bytes become successive 16x16 luma planes (zero-padded,
    chroma pinned to 128) of a C420 YUV4MPEG2 stream — genuine
    multi-frame decodable video, so synth → encode → decode → features
    exercises the actual codec and frame framing."""
    import math

    import numpy as np

    @F.pandas_udf("binary")
    def _y4m(text: pd.Series) -> pd.Series:
        out = []
        flat = np.full((8, 8), 128, np.uint8)
        for t in text:
            b = t.encode("utf-8")
            nf = max(1, math.ceil(len(b) / 256))
            payload = b + b"\x00" * (nf * 256 - len(b))
            frames = [
                (
                    np.frombuffer(payload[i * 256 : (i + 1) * 256], np.uint8)
                    .reshape(16, 16),
                    flat,
                    flat,
                )
                for i in range(nf)
            ]
            out.append(encode_y4m(frames, fps=(30, 1), colorspace="420"))
        return pd.Series(out)

    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        _y4m(F.col("text")).alias("content"),
        F.struct(
            F.lit("video/x-yuv4mpeg").alias("media_type"),
            F.lit(16).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            # frame count follows the utf-8 OCTET length (multi-byte
            # chars desync n_chars from the encoded payload) with the
            # encoder's min-one-frame floor
            F.greatest(
                F.lit(1), F.ceil(F.octet_length("text") / 256)
            ).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def multimodal_video_stats(spark, sf_dir: str, every_n: int = 2) -> DataFrame:
    """Driver-contract-shaped query over the REAL video codec path:
    synthesize y4m blobs → native decode with frame sampling → rounded
    features. The luma payload is the document's own bytes (chroma
    constant), so an oracle can recompute every value from the text."""
    media = synthesize_y4m_media_from_documents(spark, sf_dir)
    feats = extract_video_features(media, every_n=every_n)
    return feats.select(
        F.col("media_id").cast("bigint").alias("media_id"),
        "width",
        "height",
        "n_frames",
        "n_sampled",
        round6(F.col("luma_mean")).alias("luma_mean"),
        round6(F.col("motion")).alias("motion"),
    )
