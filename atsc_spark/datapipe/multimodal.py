"""Pure-numpy image codecs: PNG and GIF.

Decoders (and fixture encoders) that run on real bytes with no
dependency beyond numpy and the standard library:

- **PNG**: stdlib zlib inflate + numpy unfilter, all five filter types,
  color types 0/2/3/4/6, bit depth 8, non-interlaced.
- **GIF**: stdlib-free LZW decode with per-frame graphic control
  extensions (delay, transparency), plus an encoder for fixtures.

No query, benchmark leg or Spark operator uses them; they are kept as
a tested, self-contained codec pair.
"""

from __future__ import annotations

import struct

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(content: bytes) -> np.ndarray:
    """Real decode of a PNG image -> (h, w, 3) uint8, zero new deps.

    PNG = zlib-compressed (stdlib) filtered scanlines; the per-row
    unfilter is numpy.  Supports the common web shapes: bit depth 8,
    color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
    6 (RGBA), non-interlaced.  Alpha is dropped and gray replicated so
    the featurizer always sees (h, w, 3).
    """
    if not content.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = None
    idat: list[bytes] = []
    while pos + 8 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        body = content[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if interlace:
        raise ValueError("interlaced PNG not supported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color}")

    import zlib

    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline size mismatch")
    rows = raw.reshape(h, stride + 1)
    filters = rows[:, 0]
    lines = rows[:, 1:]
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = filters[y]
        line = lines[y]
        if ft == 0:  # None
            cur = line.copy()
        elif ft == 2:  # Up
            cur = line + prev
        elif ft == 1:  # Sub — running sum per bpp lane (uint8 wraps)
            cur = np.add.accumulate(
                line.reshape(w, channels), axis=0, dtype=np.uint8
            ).reshape(stride)
        else:  # Average (3) / Paeth (4): left-neighbor recurrence
            cur = np.empty(stride, dtype=np.uint8)
            lp = line.reshape(w, channels)
            pp = prev.reshape(w, channels).astype(np.int64)
            cp = cur.reshape(w, channels)
            left = np.zeros(channels, dtype=np.int64)
            if ft == 3:
                for x in range(w):
                    left = (lp[x] + ((left + pp[x]) >> 1)).astype(np.uint8)
                    cp[x] = left
                    left = left.astype(np.int64)
            elif ft == 4:
                ul = np.zeros(channels, dtype=np.int64)
                for x in range(w):
                    up = pp[x]
                    p = left + up - ul
                    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                    )
                    px = (lp[x] + pred).astype(np.uint8)
                    cp[x] = px
                    left = px.astype(np.int64)
                    ul = up
            else:
                raise ValueError(f"unknown PNG filter {ft}")
        out[y] = cur
        prev = cur

    px = out.reshape(h, w, channels)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        return plte[px[:, :, 0]]
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    if channels == 2:  # gray+alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]  # RGB / RGBA->RGB


def encode_png(px: np.ndarray, filter_mix: bool = True) -> bytes:
    """PNG encode (fixture/test helper): 8-bit RGB, one zlib stream.
    ``filter_mix`` cycles through all five filter types row by row so
    the decoder's every unfilter branch is exercised by real bytes."""
    import zlib

    px = np.asarray(px, dtype=np.uint8)
    h, w, _ = px.shape
    flat = px.reshape(h, w * 3).astype(np.int64)
    scan = bytearray()
    prev = np.zeros(w * 3, dtype=np.int64)
    for y in range(h):
        ft = (y % 5) if filter_mix else 0
        line = flat[y]
        if ft == 0:
            enc = line
        elif ft == 1:
            left = np.concatenate([np.zeros(3, dtype=np.int64), line[:-3]])
            enc = line - left
        elif ft == 2:
            enc = line - prev
        elif ft == 3:
            left = np.concatenate([np.zeros(3, dtype=np.int64), line[:-3]])
            enc = line - ((left + prev) >> 1)
        else:  # paeth
            left = np.concatenate([np.zeros(3, dtype=np.int64), line[:-3]])
            ul = np.concatenate([np.zeros(3, dtype=np.int64), prev[:-3]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            enc = line - pred
        scan.append(ft)
        scan.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )


def decode_gif(content: bytes) -> tuple[np.ndarray, list[int]]:
    """Real GIF decoder — stdlib-only LZW, no Pillow: returns
    ``(frames, delays_ms)`` with frames shaped (n, h, w, 3) uint8.

    Supports GIF87a/89a, global and local color tables, interlacing,
    frame offsets (composited onto the previous canvas — disposal
    "do not dispose" semantics, the common animated case), and the
    graphic-control transparency index.  Per-code LZW runs in Python —
    this is the small-asset real-bytes path; a production cluster
    swaps in PyAV for video proper (see sample_video_frames)."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad magic)")
    W, H = struct.unpack("<HH", content[6:10])
    if W * H > 64_000_000:
        # validate before allocating: a 40-byte blob can DECLARE
        # 65535x65535 and a many-frame loop multiplies the canvas —
        # reject the decompression bomb instead of dying on the alloc
        raise ValueError(f"gif: declared canvas {W}x{H} exceeds decoder limit")
    packed = content[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(content[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n

    def lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> np.ndarray:
        clear = 1 << min_code_size
        end = clear + 1
        out = np.empty(n_pixels, dtype=np.uint16)
        n_out = 0
        # table/code_size/next_code are owned by reset_table — the one
        # authoritative initializer (also invoked per CLEAR code)
        table: list[bytes]
        code_size: int
        next_code: int

        def reset_table():
            nonlocal table, code_size, next_code
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            next_code = end + 1

        reset_table()
        acc = 0
        nbits = 0
        prev: bytes | None = None
        for byte in data:
            acc |= byte << nbits
            nbits += 8
            while nbits >= code_size:
                code = acc & ((1 << code_size) - 1)
                acc >>= code_size
                nbits -= code_size
                if code == clear:
                    reset_table()
                    prev = None
                    continue
                if code == end:
                    return out[:n_out]
                if code < len(table) and (code < clear or table[code]):
                    entry = table[code]
                elif code == next_code and prev is not None:
                    entry = prev + prev[:1]
                else:
                    raise ValueError(f"gif: bad LZW code {code}")
                take = min(len(entry), n_pixels - n_out)
                out[n_out : n_out + take] = np.frombuffer(entry[:take], dtype=np.uint8)
                n_out += take
                if n_out >= n_pixels:
                    return out[:n_out]
                if prev is not None and next_code < 4096:
                    table.append(prev + entry[:1])
                    next_code += 1
                    if next_code == (1 << code_size) and code_size < 12:
                        code_size += 1
                prev = entry
        return out[:n_out]

    frames: list[np.ndarray] = []
    delays: list[int] = []
    canvas = np.zeros((H, W, 3), dtype=np.uint8)
    delay_ms = 0
    transparent: int | None = None
    while pos < len(content):
        b = content[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = content[pos + 1]
            pos += 2
            if label == 0xF9:  # graphic control
                size = content[pos]
                flags = content[pos + 1]
                delay_ms = struct.unpack("<H", content[pos + 2 : pos + 4])[0] * 10
                transparent = content[pos + 4] if flags & 1 else None
                pos += size + 1
            while content[pos] != 0:  # skip (remaining) sub-blocks
                pos += content[pos] + 1
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b:02x}")
        x0, y0, w, h = struct.unpack("<HHHH", content[pos + 1 : pos + 9])
        ipacked = content[pos + 9]
        pos += 10
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            table = np.frombuffer(content[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("gif: no color table")
        min_code_size = content[pos]
        pos += 1
        blob = bytearray()
        while content[pos] != 0:
            ln = content[pos]
            blob += content[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = lzw_decode(min_code_size, bytes(blob), w * h).reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            order = np.concatenate(
                [np.arange(0, h, 8), np.arange(4, h, 8),
                 np.arange(2, h, 4), np.arange(1, h, 2)]
            )
            deinter = np.empty_like(idx)
            deinter[order] = idx
            idx = deinter
        px = table[np.minimum(idx, len(table) - 1)]
        region = canvas[y0 : y0 + h, x0 : x0 + w]
        if transparent is not None:
            mask = (idx != transparent)[..., None]
            region[:] = np.where(mask, px, region)
        else:
            region[:] = px
        frames.append(canvas.copy())
        delays.append(delay_ms)
        # GIF89a: a graphic control extension applies ONLY to the next
        # rendering block — stale transparency/delay must not leak into
        # frames that carry no GCE of their own
        delay_ms = 0
        transparent = None
    if not frames:
        raise ValueError("gif: no image frames")
    return np.stack(frames), delays


def encode_gif(
    frames: np.ndarray, delays_ms: list[int] | None = None
) -> bytes:
    """Minimal valid GIF89a encoder for fixtures/tests: 256-entry
    palette built from the frames (assumes <= 256 distinct colors, as
    synthetic fixtures have), LZW stream in the fixed-code-size form
    (literal index codes with a CLEAR emitted before the width would
    have to grow) — decodable by any conformant reader."""
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim == 3:
        frames = frames[None]
    n, h, w, _ = frames.shape
    colors, inverse = np.unique(frames.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif fixture encoder supports <= 256 colors")
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    idx_frames = inverse.astype(np.uint16).reshape(n, h, w)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])  # gct present, 256 entries
    out += pal.tobytes()
    mcs = 8
    clear, end = 1 << mcs, (1 << mcs) + 1
    for f in range(n):
        delay = (delays_ms or [100] * n)[f] // 10
        out += bytes([0x21, 0xF9, 4, 0]) + struct.pack("<H", delay) + bytes([0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) + bytes([0])
        out += bytes([mcs])
        # Fixed-width literal codes with periodic CLEARs.  The pack
        # loop SIMULATES the decoder's table bookkeeping exactly — in
        # particular the first code after a CLEAR appends nothing (the
        # decoder has no `prev` yet), so width growth lags one code
        # behind a naive count; desyncing that by one corrupts every
        # conformant decoder's read width.
        bits = bytearray()
        acc = nbits = 0
        code_size = mcs + 1
        next_code = end + 1
        have_prev = False

        def emit(c: int) -> None:
            nonlocal acc, nbits
            acc |= c << nbits
            nbits += code_size
            while nbits >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(clear)
        for v in idx_frames[f].ravel():
            if next_code >= 1022:  # keep codes at 9-10 bits
                emit(clear)
                code_size = mcs + 1
                next_code = end + 1
                have_prev = False
            emit(int(v))
            if have_prev and next_code < 4096:
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
            have_prev = True
        emit(end)
        if nbits:
            bits.append(acc & 0xFF)
        for i in range(0, len(bits), 255):
            chunk = bits[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)
