"""From-scratch RIFF/WAVE (PCM) encoder + decoder.

No audio library is a dependency, so the decode path is implemented
from the container spec itself: RIFF chunk framing (fourcc + little-endian u32
size + word-aligned payloads), the canonical `fmt ` chunk for
PCM (format tag 1) at 8 or 16 bits, and the `data` chunk holding
interleaved frames.  The reader walks chunks generically (skipping
unknown ones such as LIST/INFO/fact, honoring the odd-size pad byte),
so it accepts real-world WAV files, not just our own writer's output.

`read_wav_safe` is total over hostile bytes: any structural violation
(bad magic, truncated chunk, non-PCM format tag, zero channels,
inconsistent block align) returns None instead of raising.  Verified by
the fuzz suite in tests/test_wav.py.
"""
from __future__ import annotations

import struct
from typing import NamedTuple, Optional


class WavData(NamedTuple):
    sample_rate: int
    n_channels: int
    bits: int
    samples: list  # interleaved; int16 values for 16-bit, 0..255 for 8-bit


def write_wav(samples, sample_rate: int, n_channels: int = 1,
              bits: int = 16, extra_chunks: bool = False) -> bytes:
    """Serialize interleaved PCM samples (length must be a multiple of
    n_channels).  16-bit samples are signed little-endian; 8-bit are
    unsigned.  `extra_chunks` interleaves a LIST/INFO and a junk chunk
    around `data` to exercise reader chunk-skipping."""
    if bits not in (8, 16):
        raise ValueError(f"unsupported bits={bits}")
    if n_channels <= 0 or len(samples) % n_channels:
        raise ValueError("sample count not a multiple of n_channels")
    if bits == 16:
        payload = struct.pack(f"<{len(samples)}h", *samples)
    else:
        payload = bytes(samples)
    block_align = n_channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate,
                      sample_rate * block_align, block_align, bits)
    chunks = [(b"fmt ", fmt)]
    if extra_chunks:
        chunks.append((b"LIST", b"INFOISFT" + struct.pack("<I", 9)
                       + b"gooselite"))
    chunks.append((b"data", payload))
    if extra_chunks:
        chunks.append((b"junk", b"\x00" * 7))  # odd size: pad byte path
    body = bytearray(b"WAVE")
    for fourcc, data in chunks:
        body += fourcc + struct.pack("<I", len(data)) + data
        if len(data) % 2:
            body += b"\x00"  # RIFF word alignment
    return b"RIFF" + struct.pack("<I", len(body)) + bytes(body)


def read_wav(b: bytes) -> WavData:
    """Parse a RIFF/WAVE byte string.  Walks the chunk list generically;
    requires one PCM `fmt ` chunk before the `data` chunk.  Raises
    ValueError on any structural violation."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    riff_size = struct.unpack_from("<I", b, 4)[0]
    end = min(len(b), 8 + riff_size)
    pos, fmt, data = 12, None, None
    while pos + 8 <= end:
        fourcc = b[pos:pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        body_at = pos + 8
        if body_at + size > end:
            raise ValueError(f"truncated chunk {fourcc!r}")
        if fourcc == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too small")
            fmt = struct.unpack_from("<HHIIHH", b, body_at)
        elif fourcc == b"data":
            data = b[body_at:body_at + size]
            if fmt is not None:
                break  # canonical order; ignore trailing chunks
        pos = body_at + size + (size % 2)  # pad byte on odd sizes
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    tag, n_channels, rate, _byte_rate, block_align, bits = fmt
    if tag != 1:
        raise ValueError(f"not PCM (format tag {tag})")
    if bits not in (8, 16) or n_channels == 0:
        raise ValueError("unsupported fmt geometry")
    if block_align != n_channels * bits // 8:
        raise ValueError("block align inconsistent with fmt")
    frame = block_align
    usable = len(data) - len(data) % frame
    if bits == 16:
        samples = list(struct.unpack(f"<{usable // 2}h", data[:usable]))
    else:
        samples = list(data[:usable])
    if len(samples) % n_channels:
        raise ValueError("sample count not a multiple of n_channels")
    return WavData(rate, n_channels, bits, samples)


def read_wav_safe(b) -> Optional[WavData]:
    """Total decode: None on anything that is not a valid PCM WAV."""
    try:
        if not isinstance(b, (bytes, bytearray)):
            return None
        return read_wav(bytes(b))
    except Exception:
        return None
