"""Pure-Python BMP / WAV codecs: the REAL branch of the multimodal seam.

SURVEY.md §2.D D5: the package depends on no image or audio library
(PIL, ffmpeg), yet these two container formats need nothing beyond
``struct``, so a real decode can be exercised honestly: the declared
queries ENCODE genuine, spec-conformant files (24-bit uncompressed BMP
with 4-byte row padding; RIFF/WAVE PCM16 with a chunk walk) and then
DECODE them by actually parsing headers, strides and chunks — not by
remembering what was encoded. Everything is deterministic integer math,
so the end-to-end round trip has an exact SQL oracle.

Format references (public specs):
- BMP: BITMAPFILEHEADER (14 bytes, 'BM' magic, pixel-array offset at
  byte 10) + BITMAPINFOHEADER (40 bytes, width/height int32 LE at 18/22,
  bpp uint16 at 28), pixel rows bottom-up, each padded to 4 bytes.
- WAV: RIFF container ('RIFF' size 'WAVE'), then chunks; 'fmt ' carries
  PCM tag 1 / channels / rate / bits-per-sample; 'data' carries samples.
  Chunks are (id, uint32 LE size, payload [+ 1 pad byte if odd]).
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------- BMP ----


def encode_bmp_gray24(width: int, height: int, pixel) -> bytes:
    """Encode a 24-bit uncompressed BMP; ``pixel(x, y) -> 0..255`` gray.

    Spec-conformant: bottom-up row order, BGR byte order, rows padded to
    4-byte boundaries, correct biSizeImage and file size. Gray means
    B == G == R == pixel(x, y), so a channel-sum witness is exactly
    3 * sum(pixel).
    """
    if width <= 0 or height <= 0:
        raise ValueError("BMP dimensions must be positive")
    stride = (3 * width + 3) & ~3
    image_size = stride * height
    offset = 14 + 40
    header = struct.pack(
        "<2sIHHI", b"BM", offset + image_size, 0, 0, offset
    ) + struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0,
    )
    rows = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up, per spec
        row = bytearray()
        for x in range(width):
            v = pixel(x, y) & 0xFF
            row += bytes((v, v, v))  # B, G, R
        row += b"\x00" * (stride - 3 * width)
        rows += row
    return header + bytes(rows)


def decode_bmp(data: bytes) -> tuple[int, int, int]:
    """Parse a BMP; return (width, height, sum of all channel bytes).

    A real parser, not an unpickler: validates the 'BM' magic and
    24-bpp/uncompressed invariants, reads the pixel-array offset from
    the file header, honors the row stride (so padding bytes are
    SKIPPED, not summed) and a negative height (top-down rows — the sum
    is order-independent but the dimension handling is not).
    """
    if data[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    width, height = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} comp={compression}")
    n_rows = abs(height)
    stride = (3 * width + 3) & ~3
    if offset + stride * n_rows > len(data):
        raise ValueError("truncated BMP pixel array")
    total = 0
    for r in range(n_rows):
        base = offset + r * stride
        total += sum(data[base : base + 3 * width])
    return width, n_rows, total


# ---------------------------------------------------------------- WAV ----


def encode_wav_pcm16(samples, rate: int = 8000) -> bytes:
    """Encode mono PCM16 samples as a spec-conformant RIFF/WAVE file."""
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
        + (b"\x00" if len(pcm) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav_pcm16(data: bytes) -> tuple[int, list[int]]:
    """Parse a WAV by walking RIFF chunks; return (rate, samples).

    Handles what real files throw at a parser: chunks in any order,
    unknown chunks (LIST/INFO metadata) skipped by their declared size,
    odd-sized chunks padded to even offsets. Requires PCM16 mono, which
    is validated from the 'fmt ' chunk actually read — never assumed.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos, rate, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            tag, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body)
            if tag != 1 or channels != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV: tag={tag} ch={channels} bits={bits}"
                )
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size % 2)  # odd chunks pad to even
    if rate is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    return rate, list(struct.unpack(f"<{len(pcm) // 2}h", pcm))
