"""From-scratch GIF (87a/89a) codec — pure numpy/stdlib.

Like functions/png.py and media_codecs/jpeg.py, the engine carries its own
implementation of the public format because no PIL exists in this
container. Web corpora are full of GIFs (static and animated), so the
multimodal operators decode them for real:

- ``decode_gif_frames``: full container walk (logical screen, global and
  local color tables, Graphic Control Extensions, interlaced frames) +
  LZW decompression with dictionary growth and deferred clears, then
  frame compositing with disposal methods 0/1 (leave), 2 (restore
  background) and 3 (restore previous). Returns per-frame composed RGBA
  canvas snapshots with delays — animated GIFs behave as tiny videos.
- ``decode_gif``: first composed frame (RGB, or RGBA when transparency
  is actually used).
- ``encode_gif``: single- or multi-frame writer with a real LZW encoder
  (dictionary growth + clear-on-full) so round-trip tests exercise the
  decoder's growth paths; supports per-frame delay, transparency index
  and interlacing.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE_BITS = 12


def _lzw_decode(mcs: int, data: bytes, max_pixels: int) -> bytes:
    """GIF-flavoured LZW: variable code width starting at mcs+1 bits,
    LSB-first packing, clear/end codes, 12-bit dictionary cap."""
    if not 2 <= mcs <= 11:
        raise ValueError(f"bad LZW minimum code size {mcs}")
    clear = 1 << mcs
    end = clear + 1
    code_size = mcs + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    dict_ = list(base)
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                dict_ = list(base)
                code_size = mcs + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                if code >= len(dict_):
                    raise ValueError("bad first LZW code")
                entry = dict_[code]
            elif code < len(dict_):
                entry = dict_[code]
                if len(dict_) < (1 << _MAX_CODE_BITS):
                    dict_.append(prev + entry[:1])
            elif code == len(dict_) and len(dict_) < (1 << _MAX_CODE_BITS):
                entry = prev + prev[:1]
                dict_.append(entry)
            else:
                raise ValueError("bad LZW code")
            # spec boundary, pinned by the published GIF89a sample vector
            # (test_gif_decodes_published_spec_vector): widen once the next
            # entry to assign would not fit in the current width
            if len(dict_) == (1 << code_size) and code_size < _MAX_CODE_BITS:
                code_size += 1
            out += entry
            prev = entry
            if len(out) >= max_pixels:
                return bytes(out[:max_pixels])
    return bytes(out)


def _lzw_encode(mcs: int, indices: bytes) -> bytes:
    """Mirror of ``_lzw_decode``: emits clear up front, grows the code
    width as the dictionary fills, clears when the 12-bit space is full."""
    clear = 1 << mcs
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    code_size = mcs + 1
    dict_: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear, code_size)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in dict_:
            w = wk
            continue
        emit(dict_[w], code_size)
        if next_code < (1 << _MAX_CODE_BITS):
            dict_[wk] = next_code
            next_code += 1
            # the decoder's dict runs one entry behind the encoder's (its
            # first post-clear code adds nothing), so it crosses 2^cs one
            # code later — bump at next_code == 2^cs + 1 to stay in step
            # (verified against the spec-vector-pinned decoder)
            if next_code == (1 << code_size) + 1 and code_size < _MAX_CODE_BITS:
                code_size += 1
        else:
            emit(clear, code_size)
            dict_ = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = mcs + 1
        w = bytes([k])
    if w:
        emit(dict_[w], code_size)
    emit(end, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# GIF interlace row passes (spec appendix E)
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(fh: int) -> np.ndarray:
    return np.concatenate([np.arange(start, fh, step) for start, step in _GIF_PASSES])


def decode_gif_frames(data: bytes) -> tuple[int, int, list[tuple[int, np.ndarray]]]:
    """→ (width, height, [(delay_ms, HxWx4 RGBA composed canvas), ...]).
    Raises ValueError on corrupt/truncated input (quarantined upstream)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h = struct.unpack_from("<HH", data, 6)
    if w == 0 or h == 0:
        raise ValueError("empty GIF logical screen")
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((h, w, 4), dtype=np.uint8)
    frames: list[tuple[int, np.ndarray]] = []
    delay_ms = 100
    transp: int | None = None
    disposal = 0
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            label = data[pos + 1]
            pos += 2
            subs = []
            while data[pos] != 0:
                sz = data[pos]
                subs.append(data[pos + 1 : pos + 1 + sz])
                pos += 1 + sz
            pos += 1
            if label == 0xF9 and subs and len(subs[0]) >= 4:
                gce = subs[0]
                disposal = (gce[0] >> 2) & 7
                delay_ms = (struct.unpack_from("<H", gce, 1)[0] * 10) or 100
                transp = gce[3] if gce[0] & 1 else None
        elif block == 0x2C:  # image descriptor
            left, top, fw, fh = struct.unpack_from("<HHHH", data, pos + 1)
            iflags = data[pos + 9]
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                ct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF frame has no color table")
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos] != 0:
                sz = data[pos]
                lzw += data[pos + 1 : pos + 1 + sz]
                pos += 1 + sz
            pos += 1
            if left + fw > w or top + fh > h:
                raise ValueError("GIF frame exceeds logical screen")
            idx_flat = _lzw_decode(mcs, bytes(lzw), fw * fh)
            if len(idx_flat) < fw * fh:
                raise ValueError("truncated GIF frame data")
            idx = np.frombuffer(idx_flat, np.uint8).reshape(fh, fw)
            if iflags & 0x40:
                deinter = np.empty_like(idx)
                deinter[_interlace_order(fh)] = idx
                idx = deinter
            if int(idx.max()) >= len(ct):
                raise ValueError("GIF index outside color table")
            prev_canvas = canvas.copy() if disposal == 3 else None
            region = canvas[top : top + fh, left : left + fw]
            opaque = (
                np.ones((fh, fw), dtype=bool)
                if transp is None
                else idx != transp
            )
            region[..., :3][opaque] = ct[idx][opaque]
            region[..., 3][opaque] = 255
            frames.append((delay_ms, canvas.copy()))
            if disposal == 2:
                canvas[top : top + fh, left : left + fw] = 0
            elif disposal == 3 and prev_canvas is not None:
                canvas = prev_canvas
            delay_ms, transp, disposal = 100, None, 0
        else:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
    if not frames:
        raise ValueError("GIF has no image frames")
    return int(w), int(h), frames


def decode_gif(data: bytes) -> np.ndarray:
    """First composed frame → HxWx3 uint8 (or HxWx4 when transparency is
    actually present)."""
    _, _, frames = decode_gif_frames(data)
    img = frames[0][1]
    if bool((img[..., 3] == 255).all()):
        return np.ascontiguousarray(img[..., :3])
    return img


def encode_gif_anim(
    screen_wh: tuple[int, int],
    palette: np.ndarray,
    frames: list[dict],
) -> bytes:
    """Animated-GIF writer with the per-frame controls ``encode_gif``
    lacks — offsets, disposal methods and per-frame transparency — so
    synth assets and tests can exercise the decoder's compositing paths.
    Each frame dict: ``indices`` (HxW uint8 into ``palette``), optional
    ``left``/``top`` (default 0), ``delay_ms`` (default 100),
    ``transparent`` (index or None), ``disposal`` (0-3, applied AFTER the
    frame is shown, per GIF89a)."""
    n = len(palette)
    if n & (n - 1) or n < 4 or n > 256:
        raise ValueError("palette size must be a power of two in [4, 256]")
    w, h = screen_wh
    depth = n.bit_length() - 1
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (depth - 1), 0, 0])
    out += palette.astype(np.uint8).tobytes()
    mcs = max(2, depth)
    for spec in frames:
        idx = np.asarray(spec["indices"], dtype=np.uint8)
        fh, fw = idx.shape
        left = int(spec.get("left", 0))
        top = int(spec.get("top", 0))
        if left + fw > w or top + fh > h:
            raise ValueError("frame exceeds logical screen")
        transparent = spec.get("transparent")
        disposal = int(spec.get("disposal", 0))
        gce = bytes([((disposal & 7) << 2) | (1 if transparent is not None else 0)])
        gce += struct.pack("<H", int(spec.get("delay_ms", 100)) // 10)
        gce += bytes([transparent if transparent is not None else 0])
        out += bytes([0x21, 0xF9, len(gce)]) + gce + b"\x00"
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, fw, fh)
        out += bytes([0])
        out += bytes([mcs])
        lzw = _lzw_encode(mcs, idx.tobytes())
        for i in range(0, len(lzw), 255):
            sub = lzw[i : i + 255]
            out += bytes([len(sub)]) + sub
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def encode_gif(
    frames: list[np.ndarray],
    palette: np.ndarray,
    delays_ms: list[int] | None = None,
    transparent: int | None = None,
    interlace: bool = False,
) -> bytes:
    """Index-array frames (HxW uint8, values into ``palette`` Nx3 uint8,
    N a power of two ≥ 4) → GIF89a bytes. Used by tests to round-trip the
    decoder, including its LZW dictionary-growth path."""
    n = len(palette)
    if n & (n - 1) or n < 4 or n > 256:
        raise ValueError("palette size must be a power of two in [4, 256]")
    h, w = frames[0].shape
    depth = n.bit_length() - 1
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (depth - 1), 0, 0])
    out += palette.astype(np.uint8).tobytes()
    mcs = max(2, depth)
    for fi, frame in enumerate(frames):
        delay = (delays_ms or [100] * len(frames))[fi]
        gce = bytes([(1 if transparent is not None else 0)])
        gce += struct.pack("<H", delay // 10)
        gce += bytes([transparent if transparent is not None else 0])
        out += bytes([0x21, 0xF9, len(gce)]) + gce + b"\x00"
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0])
        idx = frame
        if interlace:
            idx = frame[_interlace_order(h)]
        out += bytes([mcs])
        lzw = _lzw_encode(mcs, idx.astype(np.uint8).tobytes())
        for i in range(0, len(lzw), 255):
            sub = lzw[i : i + 255]
            out += bytes([len(sub)]) + sub
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)
