"""Clean-room Delta Lake deletion-vector codec.

Delta's DELETE/UPDATE/MERGE mark rows dead without rewriting parquet
by attaching a *deletion vector* to the file's add action (public
spec: delta-io/delta PROTOCOL.md, "Deletion Vectors" + "Deletion
Vector Descriptor Schema" + "Deletion Vector Format"). This module
implements every byte of that stack from the published specs — no
Delta code involved:

* **Z85** (ZeroMQ RFC 32/Z85, public): the base-85 alphabet Delta
  uses to embed UUIDs and inline bitmaps in the descriptor's
  ``pathOrInlineDv`` string.
* **32-bit RoaringBitmap portable serialization** (RoaringBitmap/
  RoaringFormatSpec, public): array / bitmap / run containers under
  the 12346 (no-run) and 12347 (run) cookies. The writer always emits
  the no-run layout; the reader accepts all three container kinds, so
  bitmaps produced by native writers (which may emit runs) decode.
* **64-bit RoaringBitmapArray "portable" format** (PROTOCOL.md
  "Deletion Vector Format"): magic number 1681511377 (4-byte LE),
  bitmap count (8-byte LE), then per non-empty 32-bit bucket its key
  (4-byte LE) and the standard 32-bit serialization above.
* **DV file storage format** (PROTOCOL.md "Deletion Vector File
  Storage Format"): a ``deletion_vector_<uuid>.bin`` holding a
  format-version byte (1) followed by one or more DVs, each stored as
  ``<dataSize: 4-byte big-endian> <data> <CRC-32 of data: 4-byte
  big-endian>``; the descriptor's ``offset`` addresses the dataSize
  field, ``sizeInBytes`` must equal it, and the checksum is verified
  on every read (a torn DV must fail loudly, never resurrect rows).

Scale posture: positions ride as *serialized roaring bytes*, never
exploded driver-side row lists — executors serialize their own file's
bitmap (``delta_log.delta_delete`` groups by file), and the driver
merges O(touched-files) compressed blobs. Scans broadcast only the DV
descriptors; each scan task reads and decodes its own file's bitmap
(``delta_log.scan._dv_live_filter``), as a native Delta scan does.
Only the change feed (``read_delta_changes``) broadcasts decoded
position arrays: for each file whose DV a commit changed, the
positions that changed.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuidlib
import zlib

import numpy as np

# --- Z85 (ZeroMQ RFC 32; 4 bytes <-> 5 chars, big-endian base 85) ---

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DECODE = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    """Z85-encode ``data`` (length must be a multiple of 4)."""
    if len(data) % 4:
        raise ValueError(
            f"z85 input length {len(data)} is not a multiple of 4"
        )
    out = []
    for i in range(0, len(data), 4):
        (word,) = struct.unpack(">I", data[i : i + 4])
        chunk = []
        for _ in range(5):
            word, rem = divmod(word, 85)
            chunk.append(_Z85_ALPHABET[rem])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    """Inverse of :func:`z85_encode` (length multiple of 5)."""
    if len(text) % 5:
        raise ValueError(
            f"z85 input length {len(text)} is not a multiple of 5"
        )
    out = bytearray()
    for i in range(0, len(text), 5):
        word = 0
        for c in text[i : i + 5]:
            try:
                word = word * 85 + _Z85_DECODE[c]
            except KeyError:
                raise ValueError(f"invalid z85 character {c!r}")
        if word > 0xFFFFFFFF:
            raise ValueError(f"z85 group {text[i:i + 5]!r} overflows")
        out += struct.pack(">I", word)
    return bytes(out)


# --- 32-bit RoaringBitmap portable serialization -------------------

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096  # container cardinality above which bitmaps win


def _serialize_rbm32(values: np.ndarray) -> bytes:
    """Portable serialization of one 32-bit bitmap from sorted unique
    uint32 ``values``. Always the no-run layout (cookie 12346): array
    containers up to 4096 values, 8 KiB bitset containers above —
    exactly the RoaringFormatSpec shapes every implementation reads."""
    values = np.asarray(values, dtype=np.uint32)
    highs = (values >> 16).astype(np.uint16)
    keys, starts = np.unique(highs, return_index=True)
    bounds = list(starts) + [len(values)]
    n = len(keys)
    head = struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
    desc = bytearray()
    payloads: list[bytes] = []
    for i, key in enumerate(keys):
        lows = (values[bounds[i] : bounds[i + 1]] & 0xFFFF).astype(
            np.uint16
        )
        desc += struct.pack("<HH", int(key), len(lows) - 1)
        if len(lows) <= _ARRAY_MAX:
            payloads.append(lows.astype("<u2").tobytes())
        else:
            bits = np.zeros(1 << 16, dtype=np.uint8)
            bits[lows] = 1
            # 1024 little-endian u64 words == LSB-first packed bytes
            payloads.append(
                np.packbits(bits, bitorder="little").tobytes()
            )
    # offset header: absolute byte offsets of each container payload,
    # always present under the no-run cookie
    base = len(head) + len(desc) + 4 * n
    offsets = bytearray()
    pos = base
    for p in payloads:
        offsets += struct.pack("<I", pos)
        pos += len(p)
    return head + bytes(desc) + bytes(offsets) + b"".join(payloads)


def _deserialize_rbm32(buf: memoryview, at: int) -> tuple[np.ndarray, int]:
    """Decode one 32-bit bitmap at ``buf[at:]``; returns (sorted
    uint32 values, bytes consumed). Accepts both cookies and all three
    container kinds, per RoaringFormatSpec."""
    start = at
    (cookie16,) = struct.unpack_from("<H", buf, at)
    run_flags = None
    if cookie16 == _SERIAL_COOKIE:
        (n_minus1,) = struct.unpack_from("<H", buf, at + 2)
        n = n_minus1 + 1
        at += 4
        flag_bytes = (n + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(buf, np.uint8, flag_bytes, at),
            bitorder="little",
        )[:n]
        at += flag_bytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    else:
        cookie, n = struct.unpack_from("<II", buf, at)
        if cookie != _SERIAL_COOKIE_NO_RUN:
            raise ValueError(
                f"not a serialized RoaringBitmap (cookie {cookie})"
            )
        at += 8
        run_flags = np.zeros(n, dtype=np.uint8)
        has_offsets = True
    keys = np.empty(n, dtype=np.uint32)
    cards = np.empty(n, dtype=np.int64)
    for i in range(n):
        k, c = struct.unpack_from("<HH", buf, at)
        keys[i], cards[i] = k, c + 1
        at += 4
    if has_offsets:
        at += 4 * n  # absolute offsets; payloads follow in order
    parts: list[np.ndarray] = []
    for i in range(n):
        base = np.uint32(keys[i]) << np.uint32(16)
        if run_flags[i]:
            (n_runs,) = struct.unpack_from("<H", buf, at)
            at += 2
            runs = np.frombuffer(buf, "<u2", 2 * n_runs, at).reshape(
                -1, 2
            )
            at += 4 * n_runs
            vals = np.concatenate(
                [
                    np.arange(s, s + ln + 1, dtype=np.uint32)
                    for s, ln in runs
                ]
            ) if n_runs else np.empty(0, np.uint32)
        elif cards[i] <= _ARRAY_MAX:
            vals = np.frombuffer(
                buf, "<u2", int(cards[i]), at
            ).astype(np.uint32)
            at += 2 * int(cards[i])
        else:
            bits = np.unpackbits(
                np.frombuffer(buf, np.uint8, 1 << 13, at),
                bitorder="little",
            )
            at += 1 << 13
            vals = np.nonzero(bits)[0].astype(np.uint32)
        parts.append(base + vals)
    vals = (
        np.concatenate(parts) if parts else np.empty(0, np.uint32)
    )
    return vals, at - start


# --- 64-bit RoaringBitmapArray ("portable", magic-prefixed) ---------

MAGIC_NUMBER = 1681511377  # PROTOCOL.md "Deletion Vector Format"


def serialize_positions(positions: np.ndarray) -> bytes:
    """Serialize sorted unique non-negative int64 row indexes as a
    magic-prefixed portable RoaringBitmapArray: per PROTOCOL.md, the
    4-byte LE magic, an 8-byte LE bitmap count, then each non-empty
    high-32-bit bucket as ``<key: 4-byte LE><32-bit portable
    bitmap>`` in increasing key order."""
    positions = np.asarray(positions, dtype=np.int64)
    if positions.size and int(positions[0]) < 0:
        raise ValueError("row indexes must be non-negative")
    u = positions.astype(np.uint64)
    highs = (u >> np.uint64(32)).astype(np.uint32)
    keys, starts = np.unique(highs, return_index=True)
    bounds = list(starts) + [len(u)]
    out = bytearray(struct.pack("<iq", MAGIC_NUMBER, len(keys)))
    for i, key in enumerate(keys):
        lows = (u[bounds[i] : bounds[i + 1]] & np.uint64(0xFFFFFFFF)
                ).astype(np.uint32)
        out += struct.pack("<i", int(key))
        out += _serialize_rbm32(lows)
    return bytes(out)


def deserialize_positions(data: bytes) -> np.ndarray:
    """Inverse of :func:`serialize_positions` -> sorted int64 array."""
    buf = memoryview(data)
    magic, n_maps = struct.unpack_from("<iq", buf, 0)
    if magic != MAGIC_NUMBER:
        raise ValueError(
            f"bad deletion-vector magic {magic} (want {MAGIC_NUMBER})"
        )
    at = 12
    parts: list[np.ndarray] = []
    for _ in range(n_maps):
        (key,) = struct.unpack_from("<i", buf, at)
        at += 4
        lows, used = _deserialize_rbm32(buf, at)
        at += used
        parts.append(
            (np.uint64(key) << np.uint64(32))
            + lows.astype(np.uint64)
        )
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.sort(np.concatenate(parts)).astype(np.int64)


# --- DV file storage format + descriptor handling -------------------

_FORMAT_VERSION = 1
_BIN_PREFIX = "deletion_vector_"


def pack_dv_file(blobs: list[bytes]) -> tuple[bytes, list[int]]:
    """Assemble one on-disk DV file from serialized bitmaps: the
    format-version byte, then per DV ``<size BE><data><CRC-32 BE>``.
    Returns (file bytes, per-blob offset of the size field) — the
    offsets become the descriptors' ``offset``."""
    out = bytearray([_FORMAT_VERSION])
    offsets: list[int] = []
    for data in blobs:
        offsets.append(len(out))
        out += struct.pack(">I", len(data))
        out += data
        out += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    return bytes(out), offsets


def write_dv_file(
    table_dir: str, blobs: list[bytes]
) -> tuple[str, list[int]]:
    """Write one ``deletion_vector_<uuid>.bin`` under ``table_dir``
    holding every blob; returns (z85-encoded uuid for the descriptors'
    ``pathOrInlineDv``, per-blob offsets). The file is immutable once
    written — like data files, a lost commit race just strands it for
    vacuum."""
    uid = _uuidlib.uuid4()
    data, offsets = pack_dv_file(blobs)
    path = os.path.join(table_dir, f"{_BIN_PREFIX}{uid}.bin")
    with open(path, "xb") as f:
        f.write(data)
    return z85_encode(uid.bytes), offsets


def make_descriptor(
    path_or_inline: str, offset: int, size: int, cardinality: int
) -> dict:
    """An on-disk ("u") deletion-vector descriptor dict in the add/
    remove action shape (PROTOCOL.md "Deletion Vector Descriptor
    Schema")."""
    return {
        "storageType": "u",
        "pathOrInlineDv": path_or_inline,
        "offset": offset,
        "sizeInBytes": size,
        "cardinality": cardinality,
    }


def dv_unique_id(desc: dict | None) -> str:
    """The spec's DV unique id (storageType + pathOrInlineDv + "@"
    + offset when present) — with the file path, the primary key of
    add/remove actions on DV tables. Empty string for no DV."""
    if not desc:
        return ""
    uid = f"{desc['storageType']}{desc['pathOrInlineDv']}"
    if desc.get("offset") is not None:
        uid += f"@{desc['offset']}"
    return uid


def absolute_dv_path(table_dir: str, desc: dict) -> str | None:
    """Filesystem path of an on-disk DV, or None for inline. For
    storageType "u", ``pathOrInlineDv`` is ``<random prefix><z85
    uuid>`` (uuid = last 20 chars); the file is ``<table>/<prefix>/
    deletion_vector_<canonical uuid>.bin``. "p" is an absolute path;
    "i" carries the data inline."""
    st = desc["storageType"]
    if st == "i":
        return None
    if st == "p":
        return desc["pathOrInlineDv"]
    if st == "u":
        enc = desc["pathOrInlineDv"]
        prefix, uid_part = enc[:-20], enc[-20:]
        uid = _uuidlib.UUID(bytes=z85_decode(uid_part))
        return os.path.join(
            table_dir, prefix, f"{_BIN_PREFIX}{uid}.bin"
        )
    raise ValueError(f"unknown deletion vector storageType {st!r}")


def read_dv_positions(table_dir: str, desc: dict) -> np.ndarray:
    """Resolve a descriptor to its sorted int64 deleted row indexes,
    verifying size and CRC-32 — a truncated or corrupt DV raises
    instead of silently under-deleting."""
    size = desc["sizeInBytes"]
    if desc["storageType"] == "i":
        # inline: z85 of the data, zero-padded to a multiple of 4
        # bytes for encoding; sizeInBytes recovers the true length
        raw = z85_decode(desc["pathOrInlineDv"])[:size]
        data = raw
    else:
        path = absolute_dv_path(table_dir, desc)
        with open(path, "rb") as f:
            # distinguish MISSING offset (default 1, past the version
            # byte) from an explicit 0 — offset 0 lands on the format
            # version byte and marks a malformed descriptor, which
            # `or 1` would silently reinterpret as valid
            off = desc.get("offset")
            if off is None:
                off = 1
            if off <= 0:
                raise ValueError(
                    f"deletion vector descriptor for {path}: invalid "
                    f"offset {off} (the format-version byte occupies "
                    "offset 0; a data offset must be >= 1)"
                )
            f.seek(off)
            (stored_size,) = struct.unpack(">I", f.read(4))
            if stored_size != size:
                raise ValueError(
                    f"deletion vector at {path}@{off}: stored size "
                    f"{stored_size} != descriptor sizeInBytes {size}"
                )
            data = f.read(size)
            (crc,) = struct.unpack(">I", f.read(4))
            if crc != (zlib.crc32(data) & 0xFFFFFFFF):
                raise ValueError(
                    f"deletion vector at {path}@{off}: CRC mismatch "
                    "(corrupt or torn write)"
                )
    positions = deserialize_positions(data)
    card = desc.get("cardinality")
    if card is not None and card != len(positions):
        raise ValueError(
            f"deletion vector cardinality {card} != decoded "
            f"{len(positions)} positions"
        )
    return positions
