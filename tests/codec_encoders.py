"""Fixture encoders for the codec tests.

Byte-deterministic writers for the formats the ``extractor`` decoders
read: BMP, GIF, TIFF, lossless JPEG, WAV, and single-block AES for the
FIPS-197 known-answer test.  Only tests call them, so they live here
rather than in the package that ships to executors.
"""

from __future__ import annotations

import io
import struct
import wave

from extractor.aescodec import _encrypt_block, _expand_key
from extractor.jpegcodec import (
    _LL_BITS,
    _LL_VALS,
    _BitWriter,
    _huff_encode_table,
    _ll_predict,
    _magnitude,
)


def bmp_encode(width: int, height: int, pixels: bytes) -> bytes:
    """Write an uncompressed 24-bit BI_RGB BMP.  *pixels* is top-down RGB;
    the file stores the spec's bottom-up BGR rows with 4-byte padding."""
    import numpy as np

    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer size mismatch")
    pad = (-width * 3) % 4
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3)
    bgr = arr[::-1, :, ::-1]  # bottom-up rows, RGB→BGR
    padded = np.zeros((height, width * 3 + pad), dtype=np.uint8)
    padded[:, : width * 3] = bgr.reshape(height, width * 3)
    data = padded.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + dib + data


def _gif_lzw_encode_plain(indices: bytes, min_code_size: int) -> bytes:
    """Deterministic 'uncompressed-style' GIF LZW encoder: every pixel is
    emitted as its own literal code at fixed width min_code_size+1, with a
    Clear code re-issued before the decoder's table would force a width
    bump — the classic table-suppression technique (larger output, valid
    stream, trivial to verify)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    # decoder adds one table entry per data code after the first; reset
    # before its table reaches 2^width so width never grows
    budget = (1 << width) - (clear + 2) - 1
    emit(clear)
    since_clear = 0
    for px in indices:
        if px >= clear:
            raise ValueError("pixel index %d exceeds palette" % px)
        if since_clear >= budget:
            emit(clear)
            since_clear = 0
        emit(px)
        since_clear += 1
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_encode(
    width: int, height: int, indices: bytes, palette: bytes
) -> bytes:
    """Write a real single-frame GIF89a: *indices* are width×height
    palette indices (top-down, non-interlaced), *palette* is RGB triples
    (length a multiple of 3, ≤256 entries).  Byte-deterministic."""
    n_colors = len(palette) // 3
    if len(palette) % 3 or not 0 < n_colors <= 256:
        raise ValueError("palette must be 1..256 RGB triples")
    if len(indices) != width * height:
        raise ValueError("index buffer size mismatch")
    depth = max(1, (max(n_colors - 1, 1)).bit_length())  # GCT size exponent
    gct_entries = 1 << depth
    gct = palette + b"\x00" * ((gct_entries - n_colors) * 3)
    mcs = max(2, depth)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes((0x80 | ((depth - 1) & 7), 0, 0))  # GCT flag + size
    out += gct
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    out.append(mcs)
    stream = _gif_lzw_encode_plain(indices, mcs)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def tiff_encode(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    compression: str = "none",
    byte_order: str = "II",
    rows_per_strip: int | None = None,
) -> bytes:
    """Write a baseline TIFF (8-bit gray or RGB; ``compression`` in
    ``none|packbits|lzw|g3mh|g4``; either byte order; optional
    multi-strip layout).  Deterministic — the roundtrip fixture for the
    decoder.  ``g3mh`` (compression 2, MH byte-aligned rows) and ``g4``
    (compression 4, T.6 MMR) are bilevel: ``channels`` must be 1 and
    pixels are thresholded at 128 (< 128 = black), written with
    photometric 0 (WhiteIsZero) per fax convention."""
    from extractor.ccittcodec import ccitt_encode
    from extractor.pdf import lzw_encode, rle_encode

    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    bilevel = compression in ("g3mh", "g4")
    if bilevel and channels != 1:
        raise ValueError("CCITT TIFF is single-channel")
    fmt = "<" if byte_order == "II" else ">"
    rps = rows_per_strip or height
    rowlen = width * channels
    if bilevel:
        packed = bytearray()
        prowlen = (width + 7) // 8
        for y in range(height):
            row = bytearray(prowlen)
            for x in range(width):
                if pixels[y * width + x] < 128:  # black
                    row[x >> 3] |= 0x80 >> (x & 7)
            packed += row
    strips = []
    for y0 in range(0, height, rps):
        nrows = min(y0 + rps, height) - y0
        chunk = pixels[y0 * rowlen : min(y0 + rps, height) * rowlen]
        if compression == "none":
            strips.append(chunk)
        elif compression == "lzw":
            strips.append(lzw_encode(chunk))
        elif compression == "packbits":
            enc = rle_encode(chunk)
            strips.append(enc[:-1])  # PDF EOD byte is PackBits no-op; drop
        elif compression == "g3mh":
            strips.append(ccitt_encode(
                bytes(packed[y0 * prowlen : (y0 + nrows) * prowlen]),
                width, nrows, k=0, encoded_byte_align=True,
                with_eofb=False, with_eols=False,
            ))
        elif compression == "g4":
            strips.append(ccitt_encode(
                bytes(packed[y0 * prowlen : (y0 + nrows) * prowlen]),
                width, nrows, k=-1,
            ))
        else:
            raise ValueError("unknown compression %r" % compression)
    comp_tag = {"none": 1, "lzw": 5, "packbits": 32773,
                "g3mh": 2, "g4": 4}[compression]
    photo = 0 if bilevel else (2 if channels == 3 else 1)
    n_strips = len(strips)

    def entry(tag, typ, vals):
        type_code = {3: "H", 4: "I"}[typ]
        size = {3: 2, 4: 4}[typ] * len(vals)
        packed = struct.pack(fmt + type_code * len(vals), *vals)
        return tag, typ, len(vals), packed, size

    entries = [
        entry(256, 4, [width]),
        entry(257, 4, [height]),
        entry(258, 3, [1] if bilevel else [8] * channels),
        entry(259, 3, [comp_tag]),
        entry(262, 3, [photo]),
        entry(273, 4, [0] * n_strips),  # offsets patched below
        entry(277, 3, [channels]),
        entry(278, 4, [rps]),
        entry(279, 4, [len(s) for s in strips]),
    ]
    header = struct.pack(fmt + "2sHI", byte_order.encode(), 42, 8)
    ifd_size = 2 + 12 * len(entries) + 4
    # layout: header | IFD | overflow values | strips
    overflow_at = 8 + ifd_size
    overflow = bytearray()
    fixed = []
    for tag, typ, n, packed, size in entries:
        if size <= 4:
            fixed.append((tag, typ, n, packed.ljust(4, b"\x00")))
        else:
            fixed.append(
                (tag, typ, n, struct.pack(fmt + "I", overflow_at + len(overflow)))
            )
            overflow += packed
    strips_at = overflow_at + len(overflow)
    strip_offsets = []
    at = strips_at
    for s in strips:
        strip_offsets.append(at)
        at += len(s)
    # patch tag 273 (strip offsets) now that positions are known
    for i, (tag, typ, n, val) in enumerate(fixed):
        if tag == 273:
            packed = struct.pack(fmt + "I" * n_strips, *strip_offsets)
            if len(packed) <= 4:
                fixed[i] = (tag, typ, n, packed.ljust(4, b"\x00"))
            else:
                # 273's overflow slot was reserved with the right size
                off_entry = entries[5]
                slot = struct.unpack(fmt + "I", val)[0]
                overflow[
                    slot - overflow_at : slot - overflow_at + len(packed)
                ] = packed
    out = bytearray(header)
    out += struct.pack(fmt + "H", len(fixed))
    for tag, typ, n, val in fixed:
        out += struct.pack(fmt + "HHI", tag, typ, n) + val
    out += struct.pack(fmt + "I", 0)  # next-IFD pointer
    out += overflow
    for s in strips:
        out += s
    return bytes(out)


def jpeg_lossless_encode(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    predictor: int = 1,
    precision: int = 8,
) -> bytes:
    """Write a lossless JPEG (SOF3, T.81 Annex H): Huffman-coded
    prediction differences under the chosen predictor (1-7), point
    transform 0, flat canonical SSSS table.  The roundtrip fixture for
    :func:`_decode_lossless` — decode is bit-exact, not approximate.
    8-bit input; ``precision=12/16`` scales the input left into the
    wider domain (still exactly invertible)."""
    if channels not in (1, 3, 4):
        raise ValueError("channels must be 1, 3 or 4")
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1-7")
    if precision not in (8, 12, 16):
        raise ValueError("precision must be 8, 12 or 16")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    shift = precision - 8
    sm = [
        [
            [
                pixels[(y * width + x) * channels + ci] << shift
                for ci in range(channels)
            ]
            for x in range(width)
        ]
        for y in range(height)
    ]
    enc_tab = _huff_encode_table(_LL_BITS, _LL_VALS)
    w = _BitWriter()
    default = 1 << (precision - 1)
    for y in range(height):
        for x in range(width):
            for ci in range(channels):
                pred = _ll_predict(sm, x, y, ci, predictor, default)
                diff = (sm[y][x][ci] - pred) & 0xFFFF
                if diff > 32768:
                    diff -= 65536
                if diff == 32768:
                    code, length = enc_tab[16]
                    w.write(code, length)
                    continue
                size, bits = _magnitude(diff)
                code, length = enc_tab[size]
                w.write(code, length)
                if size:
                    w.write(bits, size)
    w.pad_to_byte()

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(
        0xFFC4, b"\x00" + bytes(_LL_BITS) + bytes(_LL_VALS)
    )
    sof = struct.pack(">BHHB", precision, height, width, channels)
    for ci in range(channels):
        sof += bytes((ci + 1, 0x11, 0))
    out += seg(0xFFC3, sof)
    sos = bytes((channels,))
    for ci in range(channels):
        sos += bytes((ci + 1, 0x00))
    sos += bytes((predictor, 0, 0))  # Ss = sel, Se = 0, AhAl = Pt 0
    out += seg(0xFFDA, sos)
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def wav_encode(
    samples,
    sample_rate: int = 16000,
    n_channels: int = 1,
    sampwidth: int = 2,
) -> bytes:
    """Write a real PCM WAV.  *samples* is a flat iterable of floats in
    [-1, 1] (interleaved if multi-channel).  Deterministic."""
    if sampwidth not in (1, 2):
        raise ValueError("sampwidth must be 1 or 2 bytes")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        if sampwidth == 2:
            pcm = b"".join(
                struct.pack(
                    "<h", max(-32768, min(32767, int(round(s * 32767.0))))
                )
                for s in samples
            )
        else:
            pcm = bytes(
                max(0, min(255, int(round((s + 1.0) * 127.5)))) for s in samples
            )
        w.writeframes(pcm)
    return buf.getvalue()


def _encrypt_block_public(key: bytes, block: bytes) -> bytes:
    """Single-block ECB encrypt — exposed for the FIPS-197 Appendix C
    known-answer test only."""
    return _encrypt_block(block, _expand_key(key))
