"""Pure-numpy/stdlib media codecs for the multimodal pipeline.

The container ships no Pillow/opencv, but several mainstream formats
are fully decodable from their public specifications with nothing but
``zlib``/``wave``/numpy — so the decode kernels for those are REAL,
not stubbed:

- PNG  (RFC 2083): zlib-inflated scanlines + Sub/Up/Average/Paeth
  unfiltering; 8-bit grayscale / RGB / RGBA, non-interlaced.
- BMP  (Windows BITMAPINFOHEADER): uncompressed 24/32-bit BI_RGB.
- PPM/PGM (netpbm P6/P5): binary 8-bit.
- WAV  (RIFF PCM): stdlib ``wave``, 8/16/32-bit PCM.
- GIF  (GIF87a/89a): REAL LZW both directions (variable code widths,
  dictionary resets, sub-block framing), interlace, colour tables.
- JPEG lives in functions/jpeg.py (baseline ITU-T T.81, pure numpy:
  DCT, Annex K Huffman, 4:4:4/4:2:0, DRI/RSTn restarts).

Only video (MP3, H.264) still needs an external codec — wire ffmpeg
there in a full deployment. Everything here runs inside Arrow-batched
mapInPandas on executors; nothing touches the driver.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np


class UnsupportedMedia(Exception):
    """Payload is not one of the formats decodable in this container."""


def sniff(payload: bytes) -> str | None:
    """Return a format tag from magic bytes, or None if unrecognized."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] in (b"P5", b"P6") and payload[2:3] in (b"\n", b" ", b"\t", b"\r"):
        return "ppm"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"  # decoded by functions/jpeg.py (ITU-T T.81)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return None


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype -> samples/pixel


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering (spec section 6). Sequential per
    spec (each row depends on the previous), vectorized within a row
    where the filter allows."""
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += stride + 1
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:  # None
            out[y] = row
        elif ftype == 2:  # Up
            out[y] = row + prev
        elif ftype == 1:  # Sub — prefix-sequential by definition
            cur = out[y]
            cur[:bpp] = row[:bpp]
            for x in range(bpp, stride):
                cur[x] = (int(row[x]) + int(cur[x - bpp])) & 0xFF
        elif ftype == 3:  # Average
            cur = out[y]
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(row[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise UnsupportedMedia(f"png filter type {ftype}")
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> uint8 array of shape (h, w, channels)."""
    if sniff(payload) != "png":
        raise UnsupportedMedia("not a png")
    pos, idat = 8, []
    width = height = None
    bitdepth = colortype = interlace = 0
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bitdepth, colortype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise UnsupportedMedia("png missing IHDR/IDAT")
    if bitdepth != 8 or colortype not in _PNG_CHANNELS or interlace:
        raise UnsupportedMedia(
            f"png bitdepth={bitdepth} colortype={colortype} interlace={interlace}"
        )
    ch = _PNG_CHANNELS[colortype]
    raw = zlib.decompress(b"".join(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise UnsupportedMedia("png scanline size mismatch")
    return _unfilter(raw, height, stride, ch).reshape(height, width, ch)


def encode_png(arr: np.ndarray) -> bytes:
    """Minimal non-interlaced 8-bit PNG writer (filter type 0) — lets
    tests build real payloads without any imaging library."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    scan = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# BMP / PPM
# ---------------------------------------------------------------------------


def encode_bmp(arr: np.ndarray) -> bytes:
    """Minimal 24-bit uncompressed (BI_RGB) BMP writer: BITMAPFILEHEADER
    + BITMAPINFOHEADER, bottom-up rows, 4-byte row alignment, BGR byte
    order — the standard layout per the public BMP format. Round-trips
    through decode_bmp, so tests and pipelines can build REAL image
    payloads without any imaging library."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, ch = arr.shape
    if ch != 3:
        raise UnsupportedMedia(f"encode_bmp wants (h, w, 3), got {arr.shape}")
    bgr = arr[:, :, ::-1]  # RGB -> BGR
    row_bytes = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_bytes - w * 3)
    # bottom-up: last image row is written first
    pixel_data = b"".join(bgr[y].tobytes() + pad for y in range(h - 1, -1, -1))
    data_off = 14 + 40
    file_size = data_off + len(pixel_data)
    file_hdr = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + pixel_data


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BI_RGB BMP -> uint8 (h, w, 3|4), RGB order."""
    if sniff(payload) != "bmp":
        raise UnsupportedMedia("not a bmp")
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        raise UnsupportedMedia("bmp core header unsupported")
    width, height = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if compression != 0 or bpp not in (24, 32):
        raise UnsupportedMedia(f"bmp bpp={bpp} compression={compression}")
    ch = bpp // 8
    flipped = height > 0
    height = abs(height)
    row_bytes = (width * ch + 3) & ~3  # 4-byte aligned rows
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=data_off
    ).reshape(height, row_bytes)[:, : width * ch].reshape(height, width, ch)
    if flipped:
        rows = rows[::-1]
    return rows[:, :, [2, 1, 0] + ([3] if ch == 4 else [])]  # BGR(A) -> RGB(A)


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary netpbm (P5 gray / P6 rgb), 8-bit -> uint8 (h, w, ch)."""
    if sniff(payload) != "ppm":
        raise UnsupportedMedia("not a ppm/pgm")
    ch = 3 if payload[:2] == b"P6" else 1
    # header: magic, width, height, maxval as whitespace-separated
    # tokens with '#' comments, then a single whitespace before data
    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise UnsupportedMedia("16-bit netpbm unsupported")
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=pos).reshape(
        h, w, ch
    )


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------

_WAV_DTYPES = {1: np.uint8, 2: np.int16, 4: np.int32}


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF PCM WAV -> (samples float32 in [-1, 1] of shape
    (n_frames, channels), sample_rate)."""
    if sniff(payload) != "wav":
        raise UnsupportedMedia("not a wav")
    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            ch, sw, rate, n = (
                wf.getnchannels(),
                wf.getsampwidth(),
                wf.getframerate(),
                wf.getnframes(),
            )
            frames = wf.readframes(n)
    except wave.Error as e:  # compressed / malformed
        raise UnsupportedMedia(str(e)) from e
    if sw not in _WAV_DTYPES:
        raise UnsupportedMedia(f"wav sample width {sw}")
    arr = np.frombuffer(frames, dtype=_WAV_DTYPES[sw]).reshape(-1, ch)
    if sw == 1:  # 8-bit wav is unsigned
        out = (arr.astype(np.float32) - 128.0) / 128.0
    else:
        out = arr.astype(np.float32) / float(2 ** (8 * sw - 1))
    return out, rate


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """16-bit PCM writer for test fixtures; samples float in [-1, 1],
    shape (n,) or (n, channels)."""
    s = np.asarray(samples, dtype=np.float32)
    if s.ndim == 1:
        s = s[:, None]
    pcm = np.clip(s * 32767.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(s.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Kernels over decoded arrays
# ---------------------------------------------------------------------------


def image_feature(img: np.ndarray, dim: int = 8) -> list[float]:
    """Fixed-dim image descriptor: per-channel means + gray std +
    geometry. Deterministic, resolution-invariant where possible."""
    f = img.astype(np.float32) / 255.0
    if f.ndim == 2:
        f = f[:, :, None]
    means = [float(f[:, :, c].mean()) for c in range(min(3, f.shape[2]))]
    means += [0.0] * (3 - len(means))
    gray = f[:, :, : min(3, f.shape[2])].mean(axis=2)
    feats = means + [
        float(gray.std()),
        float(img.shape[1]),
        float(img.shape[0]),
        float(img.shape[1]) / float(img.shape[0]),
        1.0,  # modality tag: image
    ]
    return [float(x) for x in feats[:dim]]


def audio_feature(samples: np.ndarray, rate: int, dim: int = 8) -> list[float]:
    """Fixed-dim audio descriptor: rms, peak, zero-crossing rate,
    duration, channel/rate geometry."""
    mono = samples.mean(axis=1)
    zc = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8))))) if len(mono) > 1 else 0.0
    feats = [
        float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0,
        float(np.max(np.abs(mono))) if len(mono) else 0.0,
        zc,
        float(len(mono)) / float(rate),
        float(samples.shape[1]),
        float(rate) / 48000.0,
        0.0,
        2.0,  # modality tag: audio
    ]
    return [float(x) for x in feats[:dim]]


# ---------------------------------------------------------------------------
# GIF (GIF87a/89a, public spec): real LZW both directions
# ---------------------------------------------------------------------------


class _LzwWriter:
    """GIF-variant LZW: LSB-first bit packing into 255-byte sub-blocks,
    code width grows NEXT code after the table fills a power of two,
    CLEAR resets to the root table."""

    def __init__(self, min_code_size: int) -> None:
        self.min = min_code_size
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0
        self.reset()

    def reset(self) -> None:
        self.next_code = (1 << self.min) + 2
        self.width = self.min + 1

    def put(self, code: int) -> None:
        self._acc |= code << self._nbits
        self._nbits += self.width
        while self._nbits >= 8:
            self.out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._nbits -= 8

    def flush(self) -> None:
        if self._nbits:
            self.out.append(self._acc & 0xFF)
            self._acc = 0
            self._nbits = 0


def _lzw_compress(indices, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    w = _LzwWriter(min_code_size)
    w.put(clear)
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    prefix = b""
    for sym in indices:
        cand = prefix + bytes([int(sym)])
        if cand in table:
            prefix = cand
            continue
        w.put(table[prefix])
        if w.next_code <= 0xFFF:
            table[cand] = w.next_code
            w.next_code += 1
            if w.next_code - 1 == (1 << w.width) and w.width < 12:
                w.width += 1
        else:
            w.put(clear)
            table = {bytes([i]): i for i in range(clear)}
            w.reset()
        prefix = bytes([int(sym)])
    if prefix:
        w.put(table[prefix])
    w.put(end)
    w.flush()
    return bytes(w.out)


def _lzw_decompress(data: bytes, min_code_size: int, n_expected: int) -> bytearray:
    clear = 1 << min_code_size
    end = clear + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    acc = nbits = pos = 0
    out = bytearray()
    prev: bytes | None = None
    while len(out) < n_expected:
        while nbits < width:
            if pos >= len(data):
                raise UnsupportedMedia("gif: LZW stream exhausted")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise UnsupportedMedia("gif: bad LZW code")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif(
    img: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """Palette-indexed HxW uint8 image + Kx3 palette -> GIF89a bytes
    (global colour table, one image, real LZW)."""
    h, w = img.shape
    k = len(palette)
    bits = max(2, (k - 1).bit_length())
    gct_size = 1 << bits
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF0 | (bits - 1), 0, 0)
    pal = np.zeros((gct_size, 3), np.uint8)
    pal[:k] = palette
    out += pal.tobytes()
    flags = 0x40 if interlace else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, flags)
    if interlace:
        order = [
            y for start, step in _GIF_INTERLACE_PASSES for y in range(start, h, step)
        ]
        rows = img[order]
    else:
        rows = img
    out.append(bits)  # LZW minimum code size
    data = _lzw_compress(rows.reshape(-1), bits)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a -> uint8 RGB array (first image frame; global or
    local colour table; interlaced or sequential; real LZW)."""
    if sniff(payload) != "gif":
        raise UnsupportedMedia("not a gif")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            _x, _y, w, h, iflags = struct.unpack("<HHHHB", payload[pos + 1 : pos + 10])
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(payload[pos : pos + 3 * n], np.uint8).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise UnsupportedMedia("gif: no colour table")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = np.frombuffer(
                bytes(_lzw_decompress(bytes(data), min_code, w * h)), np.uint8
            ).reshape(h, w)
            if iflags & 0x40:  # de-interlace
                order = [
                    y
                    for start, step in _GIF_INTERLACE_PASSES
                    for y in range(start, h, step)
                ]
                deint = np.zeros_like(idx)
                deint[order] = idx
                idx = deint
            return ct[idx]
        elif b == 0x3B:  # trailer
            break
        else:
            raise UnsupportedMedia(f"gif: unexpected block 0x{b:02x}")
    raise UnsupportedMedia("gif: no image data")


# ---------------------------------------------------------------------------
# IVF video container (the simple container for VP8/VP9/AV1 streams;
# public layout: 32-byte "DKIF" file header, then per frame a 12-byte
# header [u32le size, u64le pts] + payload)
# ---------------------------------------------------------------------------


def encode_ivf(
    frames: list[tuple[int, bytes]],
    width: int,
    height: int,
    fourcc: bytes = b"AV01",
    timebase: tuple[int, int] = (1, 25),
) -> bytes:
    """Encode (pts, payload) frames into a real IVF container."""
    num, den = timebase
    out = bytearray()
    out += struct.pack(
        "<4sHH4sHHIII4x",
        b"DKIF",
        0,
        32,
        fourcc,
        width,
        height,
        den,
        num,
        len(frames),
        # 4x pad = unused trailing field
    )
    for pts, payload in frames:
        out += struct.pack("<IQ", len(payload), pts)
        out += payload
    return bytes(out)


def parse_ivf(payload: bytes) -> dict:
    """Parse an IVF container back to header fields + (pts, payload)
    frames; validates magic, header size, and frame-length bounds."""
    if len(payload) < 32 or payload[:4] != b"DKIF":
        raise UnsupportedMedia("ivf: bad magic")
    (
        _magic,
        version,
        hdr_size,
        fourcc,
        width,
        height,
        den,
        num,
        n_frames,
    ) = struct.unpack("<4sHH4sHHIII", payload[:28])
    if version != 0 or hdr_size != 32:
        raise UnsupportedMedia("ivf: unsupported header")
    frames = []
    off = hdr_size
    for _ in range(n_frames):
        if off + 12 > len(payload):
            raise UnsupportedMedia("ivf: truncated frame header")
        size, pts = struct.unpack("<IQ", payload[off : off + 12])
        off += 12
        if off + size > len(payload):
            raise UnsupportedMedia("ivf: truncated frame payload")
        frames.append((pts, payload[off : off + size]))
        off += size
    return {
        "fourcc": fourcc,
        "width": width,
        "height": height,
        "timebase": (num, den),
        "frames": frames,
    }
