"""Compressed-content sniffing and decode for the binary NDJSON source.

The reference's default dataset is lz4-CLI-compressed NDJSON
(RePlayer.java:22 `.json.lz4`), and its reader dispatches on CONTENT, not
extension, falling back to plain text when no codec matches
(JsonEventS3Iterator.java:162-167). Hadoop ships only the incompatible
lz4 BLOCK codec, so Spark's text reader cannot open lz4-CLI *frames*.

`decompress_auto` sniffs the leading bytes and hands the object to a
library codec: the stdlib for gzip/bz2/xz, and the liblz4 / libzstd /
libbrotli that pyarrow ships for lz4-frame, zstd and brotli. Each object
decodes independently inside an Arrow-batched mapInPandas, so the work
distributes per file across executors and never touches the driver.

The one piece of Python left for lz4 is `_frames_end`, a walk over frame
headers and block sizes that decodes nothing: it keeps the engine's
contracts that liblz4 alone does not (trailing garbage after the last
frame is tolerated, a truncated frame raises `LZ4FrameError`, a
dictionary frame raises `NotImplementedError`).
"""

from __future__ import annotations

import lzma
import struct
import zlib

import pyarrow as pa

_MAGIC = b"\x04\x22\x4d\x18"
#: skippable frames carry magics 0x184D2A50-0x184D2A5F (little-endian)
_SKIPPABLE_MAGICS = tuple(bytes([0x50 + k]) + b"\x2a\x4d\x18"
                          for k in range(16))


class LZ4FrameError(ValueError):
    pass


#: Everything decoding a corrupt object may raise; the ingest kernels
#: skip the object on these. Native codecs (pyarrow) raise OSError;
#: gzip -> BadGzipFile (OSError), EOFError (truncated) or zlib.error;
#: bz2 -> OSError/ValueError/EOFError; xz -> lzma.LZMAError (a plain
#: Exception subclass, NOT OSError); LZ4FrameError is a ValueError.
#: NotImplementedError (an lz4 dictionary frame) is deliberately absent:
#: that input is valid and must fail loudly, not be skipped.
CORRUPT_ERRORS = (OSError, EOFError, ValueError, lzma.LZMAError,
                  zlib.error)


def native_decompress(data: bytes, codec: str) -> bytes:
    """Decode a whole stream with pyarrow's bundled codec library."""
    return pa.CompressedInputStream(pa.BufferReader(data), codec).read()


def _frames_end(data: bytes) -> int:
    """Offset just past the last whole LZ4 frame: walks frame headers and
    block sizes (decoding nothing), stepping over skippable frames and
    stopping at the first non-frame bytes after a valid frame."""
    i, n = 0, len(data)
    while i < n:
        magic = data[i:i + 4]
        if magic in _SKIPPABLE_MAGICS:
            # 4-byte magic, 4-byte LE size, opaque user data
            if i + 8 > n:
                raise LZ4FrameError("truncated skippable frame header")
            (size,) = struct.unpack_from("<I", data, i + 4)
            i += 8 + size
            if i > n:
                raise LZ4FrameError("truncated skippable frame")
            continue
        if magic != _MAGIC:
            if i == 0:
                raise LZ4FrameError("not an LZ4 frame (bad magic)")
            break                       # trailing garbage after valid frames
        if i + 7 > n:                   # magic + FLG + BD + header checksum
            raise LZ4FrameError("truncated frame header")
        flg = data[i + 4]
        if flg & 0x01:
            # A dictionary frame is VALID lz4 we cannot decode without
            # the external dictionary: a loud unsupported-feature error,
            # not corrupt input for the ingest path to skip silently.
            raise NotImplementedError(
                "LZ4 frame uses an external dictionary (FLG dict-id bit); "
                "decoding requires the dictionary content")
        i += 7 + (8 if flg & 0x08 else 0)   # optional content size
        block_checksum = 4 if flg & 0x10 else 0
        while True:
            if i + 4 > n:
                raise LZ4FrameError("truncated block size")
            (bsize,) = struct.unpack_from("<I", data, i)
            i += 4
            if bsize == 0:              # EndMark
                break
            i += (bsize & 0x7FFFFFFF) + block_checksum
            if i > n:
                raise LZ4FrameError("truncated block")
        i += 4 if flg & 0x04 else 0     # content checksum
        if i > n:
            raise LZ4FrameError("truncated content checksum")
    return min(i, n)


def frame_decompress(data: bytes) -> bytes:
    """Decode an LZ4 frame stream: concatenated frames decode as one
    stream and skippable frames are stepped over (liblz4)."""
    return native_decompress(data[:_frames_end(data)], "lz4")


# ---------------------------------------------------------------------------
# Content sniffing (JsonEventS3Iterator.java:162-167 parity)
# ---------------------------------------------------------------------------

#: magic-number dispatch table; first match wins
_MAGICS = (
    (b"\x1f\x8b", "gzip"),
    (b"BZh", "bz2"),
    (_MAGIC, "lz4"),
    *((m, "lz4") for m in _SKIPPABLE_MAGICS),
    (b"\xfd7zXZ\x00", "xz"),
    (b"\x28\xb5\x2f\xfd", "zstd"),      # RFC 8878, .jsonl.zst shards
)


def sniff_codec(head: bytes) -> str:
    """Codec name from leading bytes: gzip/bz2/lz4/xz/zstd, else 'plain'
    — the reference's catch-CompressorException-fall-back-to-text
    behavior."""
    for magic, name in _MAGICS:
        if head.startswith(magic):
            return name
    return "plain"


def decompress_auto(data: bytes, path: str | None = None) -> bytes:
    """Sniff + decompress; plain content passes through unchanged.
    Brotli has NO magic bytes (RFC 7932 streams start directly with
    window bits), so it cannot be content-sniffed — a `.br`/`.brotli`
    path suffix dispatches it when the content matches no other codec,
    and ALSO as a fallback when a coincidentally-matching magic fails
    to decode (a brotli stream has ~1/65536 odds per file of starting
    with e.g. the 2-byte gzip magic; without the fallback such objects
    would be classified corrupt and silently skipped at corpus scale).
    Content under a brotli name that sniffs plain and is not brotli
    passes through as plain text, like plain text under a `.lz4` name."""
    codec = sniff_codec(data[:8])
    is_br_path = bool(path) and path.endswith((".br", ".brotli"))
    if codec == "plain" and is_br_path:
        try:
            return native_decompress(data, "brotli")
        except CORRUPT_ERRORS:
            return data               # mislabeled plain text
    try:
        return _dispatch_codec(codec, data)
    except Exception:
        if is_br_path:
            # the suffix says brotli; the sniffed magic was a collision
            try:
                return native_decompress(data, "brotli")
            except CORRUPT_ERRORS:
                pass                  # genuinely corrupt: raise original
        raise


def _dispatch_codec(codec: str, data: bytes) -> bytes:
    """Decode `data` with the sniffed codec ('plain' passes through)."""
    if codec == "gzip":
        import gzip
        return gzip.decompress(data)
    if codec == "bz2":
        import bz2
        return bz2.decompress(data)
    if codec == "xz":
        return lzma.decompress(data)
    if codec == "lz4":
        return frame_decompress(data)
    if codec == "zstd":
        return native_decompress(data, "zstd")
    return data
