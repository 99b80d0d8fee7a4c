"""Pure-Python LZ4 frame codec + compressed-content sniffing.

The reference's default dataset is lz4-CLI-compressed NDJSON
(RePlayer.java:22 `.json.lz4`), and its reader dispatches on CONTENT, not
extension, falling back to plain text when no codec matches
(JsonEventS3Iterator.java:162-167). Hadoop ships only the incompatible
lz4 BLOCK codec, so Spark's text reader cannot open lz4-CLI *frames* —
this module implements the public LZ4 frame + block formats
(github.com/lz4/lz4/blob/dev/doc — magic 0x184D2204; token-coded
literal/match sequences) so `read_events_sniffed` can ingest the
reference's own default data with no out-of-band transcoding.

Python-side decompression is the compatibility path: at 100 TB you would
transcode once (see `frame_compress` for the writer side) or install a
native codec; here each object decompresses independently inside an
Arrow-batched mapInPandas, so the work distributes per-file across
executors and never touches the driver.

Checksums (xxHash32 header/content checks) are parsed and skipped, not
verified — corrupt frames still fail fast on structural invariants.
"""

from __future__ import annotations

import struct

_MAGIC = b"\x04\x22\x4d\x18"
#: skippable frames carry magics 0x184D2A50-0x184D2A5F (little-endian)
_SKIPPABLE_MAGICS = tuple(bytes([0x50 + k]) + b"\x2a\x4d\x18"
                          for k in range(16))


class LZ4FrameError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Block format
# ---------------------------------------------------------------------------


def block_decompress(src: bytes, prefix: bytes = b"") -> bytes:
    """Decode one LZ4 block (token-coded sequences of literals + matches).

    `prefix` is the match WINDOW a block-LINKED frame carries across
    block boundaries (the last <=64 KiB of the frame's prior output, LZ4
    frame spec §Block-Dependency) — matches may reach into it; only the
    newly decoded bytes are returned. Independent blocks pass b"" (the
    r6-and-earlier behavior, unchanged)."""
    out = bytearray(prefix)
    base = len(prefix)
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if i >= n:
                    raise LZ4FrameError("truncated literal length")
                b = src[i]
                i += 1
                lit_len += b
                if b != 255:
                    break
        if i + lit_len > n:
            raise LZ4FrameError("literal run past end of block")
        out += src[i:i + lit_len]
        i += lit_len
        if i == n:
            break                      # last sequence: literals only
        if i + 2 > n:
            raise LZ4FrameError("truncated match offset")
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0 or offset > len(out):
            raise LZ4FrameError("invalid match offset")
        match_len = token & 0xF
        if match_len == 15:
            while True:
                if i >= n:
                    raise LZ4FrameError("truncated match length")
                b = src[i]
                i += 1
                match_len += b
                if b != 255:
                    break
        match_len += 4
        start = len(out) - offset
        if offset >= match_len:
            out += out[start:start + match_len]
        else:                          # overlapping copy: replicate pattern
            seg = out[start:]
            q, r = divmod(match_len, offset)
            out += seg * q + seg[:r]
    return bytes(out[base:])


def block_compress(src: bytes) -> bytes:
    """Greedy hash-match LZ4 block encoder (test/transcode quality: correct
    format, unoptimized ratio). Emits format-conformant sequences — min
    match 4, last 5+ bytes as literals, 16-bit offsets."""
    n = len(src)
    out = bytearray()
    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    # the spec requires the last match to start >= 12 bytes before the end
    # and the final 5 bytes to be literals; stopping matches at n-12 keeps
    # both invariants with margin
    limit = n - 12
    while i < limit:
        key = src[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= 0xFFFF and src[j:j + 4] == key:
            match_len = 4
            while (i + match_len < n - 5
                   and src[j + match_len] == src[i + match_len]):
                match_len += 1
            _emit_sequence(out, src[anchor:i], i - j, match_len)
            i += match_len
            anchor = i
        else:
            i += 1
    _emit_tail(out, src[anchor:])
    return bytes(out)


def _emit_len(out: bytearray, val: int):
    while val >= 255:
        out.append(255)
        val -= 255
    out.append(val)


def _emit_sequence(out: bytearray, literals: bytes, offset: int, match_len: int):
    lit_len = len(literals)
    ml = match_len - 4
    token = (min(lit_len, 15) << 4) | min(ml, 15)
    out.append(token)
    if lit_len >= 15:
        _emit_len(out, lit_len - 15)
    out += literals
    out += struct.pack("<H", offset)
    if ml >= 15:
        _emit_len(out, ml - 15)


def _emit_tail(out: bytearray, literals: bytes):
    lit_len = len(literals)
    out.append(min(lit_len, 15) << 4)
    if lit_len >= 15:
        _emit_len(out, lit_len - 15)
    out += literals


# ---------------------------------------------------------------------------
# Frame format
# ---------------------------------------------------------------------------


def frame_decompress(data: bytes) -> bytes:
    """Decode an LZ4 frame stream (possibly multiple concatenated frames)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        if data[i:i + 4] in _SKIPPABLE_MAGICS:
            # skippable frame: 4-byte magic, 4-byte LE size, opaque
            # user data — skip it and keep decoding the frames after it
            if i + 8 > n:
                raise LZ4FrameError("truncated skippable frame header")
            (size,) = struct.unpack_from("<I", data, i + 4)
            i += 8 + size
            if i > n:
                raise LZ4FrameError("truncated skippable frame")
            continue
        if data[i:i + 4] != _MAGIC:
            if i == 0:
                raise LZ4FrameError("not an LZ4 frame (bad magic)")
            break                       # trailing garbage after valid frames
        i += 4
        if i >= n:
            raise LZ4FrameError("truncated frame descriptor")
        flg = data[i]
        if (flg >> 6) != 0b01:
            raise LZ4FrameError(f"unsupported frame version {flg >> 6}")
        block_independent = bool(flg & 0x20)
        block_checksum = bool(flg & 0x10)
        content_size_present = bool(flg & 0x08)
        content_checksum = bool(flg & 0x04)
        dict_id_present = bool(flg & 0x01)
        if dict_id_present:
            # A dictionary frame is VALID lz4 we cannot decode without
            # the external dictionary — that must surface as a loud
            # unsupported-feature error, not be classified corrupt and
            # silently skipped by the ingest path (r7 review).
            raise NotImplementedError(
                "LZ4 frame uses an external dictionary (FLG dict-id bit); "
                "decoding requires the dictionary content")
        i += 2                          # FLG + BD
        if content_size_present:
            i += 8
        i += 1                          # header checksum (not verified)
        if i > n:
            raise LZ4FrameError("truncated frame header")
        frame_start = len(out)
        while True:
            if i + 4 > n:
                raise LZ4FrameError("truncated block size")
            (bsize,) = struct.unpack_from("<I", data, i)
            i += 4
            if bsize == 0:              # EndMark
                break
            uncompressed = bool(bsize & 0x80000000)
            bsize &= 0x7FFFFFFF
            if i + bsize > n:
                raise LZ4FrameError("truncated block")
            block = data[i:i + bsize]
            i += bsize
            if block_checksum:
                i += 4
            if uncompressed:
                out += block
            else:
                # Block-LINKED frames (lz4 CLI/python-lz4 defaults write
                # them; FLG bit 5 clear) carry matches across block
                # boundaries — feed the frame's last <=64 KiB as the
                # window (r7 review: these spec-valid frames previously
                # raised and were silently skipped as corrupt).
                prefix = (b"" if block_independent else
                          bytes(out[max(frame_start, len(out) - 65536):]))
                out += block_decompress(block, prefix)
        if content_checksum:
            i += 4
    return bytes(out)


def frame_compress(data: bytes, block_size: int = 4 << 20,
                   store_uncompressed: bool = False) -> bytes:
    """Encode `data` as one LZ4 frame (independent blocks, no checksums
    beyond the required header checksum byte). `store_uncompressed` forces
    stored blocks — still a valid frame, useful to isolate frame-layer
    tests from the block codec."""
    out = bytearray(_MAGIC)
    flg = (0b01 << 6) | 0x20            # version 01, block-independent
    bd = 0x70                           # 4 MiB max block size
    out.append(flg)
    out.append(bd)
    out.append(_header_checksum(bytes([flg, bd])))
    for off in range(0, len(data), block_size) or [0]:
        chunk = data[off:off + block_size]
        if not chunk:
            break
        comp = None if store_uncompressed else block_compress(chunk)
        if comp is None or len(comp) >= len(chunk):
            out += struct.pack("<I", len(chunk) | 0x80000000)
            out += chunk
        else:
            out += struct.pack("<I", len(comp))
            out += comp
    out += struct.pack("<I", 0)         # EndMark
    return bytes(out)


def _header_checksum(descriptor: bytes) -> int:
    """(xxh32(descriptor) >> 8) & 0xFF per the frame spec."""
    return (_xxh32(descriptor) >> 8) & 0xFF


def _xxh32(data: bytes, seed: int = 0) -> int:
    """Minimal xxHash32 (public algorithm) for the header-checksum byte."""
    P1, P2, P3, P4, P5 = (2654435761, 2246822519, 3266489917,
                          668265263, 374761393)
    mask = 0xFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & mask

    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + P1 + P2) & mask
        v2 = (seed + P2) & mask
        v3 = seed & mask
        v4 = (seed - P1) & mask
        while i <= n - 16:
            for vi in range(4):
                (w,) = struct.unpack_from("<I", data, i)
                i += 4
                if vi == 0:
                    v1 = (rotl((v1 + w * P2) & mask, 13) * P1) & mask
                elif vi == 1:
                    v2 = (rotl((v2 + w * P2) & mask, 13) * P1) & mask
                elif vi == 2:
                    v3 = (rotl((v3 + w * P2) & mask, 13) * P1) & mask
                else:
                    v4 = (rotl((v4 + w * P2) & mask, 13) * P1) & mask
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & mask
    else:
        h = (seed + P5) & mask
    h = (h + n) & mask
    while i <= n - 4:
        (w,) = struct.unpack_from("<I", data, i)
        i += 4
        h = (rotl((h + w * P3) & mask, 17) * P4) & mask
    while i < n:
        h = (rotl((h + data[i] * P5) & mask, 11) * P1) & mask
        i += 1
    h ^= h >> 15
    h = (h * P2) & mask
    h ^= h >> 13
    h = (h * P3) & mask
    h ^= h >> 16
    return h


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
    behavior (zstd added late r10: the modern corpus shard codec,
    functions/zstd.py, pure Python + libzstd-witnessed)."""
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
    would be classified corrupt and silently skipped at corpus scale)."""
    codec = sniff_codec(data[:8])
    is_br_path = bool(path) and path.endswith((".br", ".brotli"))
    if codec == "plain" and is_br_path:
        from ..functions.brotli import decompress as _br
        return _br(data)
    try:
        return _dispatch_codec(codec, data)
    except Exception:
        if is_br_path:
            # the suffix says brotli; the sniffed magic was a collision
            from ..functions.brotli import BrotliError
            from ..functions.brotli import decompress as _br
            try:
                return _br(data)
            except BrotliError:
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
        import lzma
        return lzma.decompress(data)
    if codec == "lz4":
        return frame_decompress(data)
    if codec == "zstd":
        from ..functions.zstd import decompress as _zstd_decompress
        return _zstd_decompress(data)
    return data
