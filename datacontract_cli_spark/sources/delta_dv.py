"""Delta Lake deletion-vector descriptors: Z85 codec, DV file I/O, and
descriptor resolution (Delta protocol, "Deletion Vectors" section).

An ``add`` action's ``deletionVector`` struct points at a serialized
``RoaringBitmapArray`` (see :mod:`roaring`) of this file's deleted row
indexes. Three storage flavors:

* ``u`` — ``pathOrInlineDv`` is ``<optional random prefix><z85 uuid>``
  (the last 20 chars decode to the 16-byte uuid); the blob lives in
  ``<table>/<prefix>/deletion_vector_<uuid>.bin`` at byte ``offset``.
* ``i`` — ``pathOrInlineDv`` is the z85 of the blob itself (inline).
* ``p`` — ``pathOrInlineDv`` is an absolute path to the ``.bin`` file.

DV ``.bin`` file layout: 1-byte format version (1); each stored DV at
``offset`` is ``[int32 BE size][blob][int32 BE CRC32(blob)]`` where
``size == sizeInBytes`` from the descriptor. Z85 is the ZeroMQ spec-32
alphabet over 4-byte big-endian groups.

Reference parity: delta-spark's ``DeletionVectorDescriptor`` /
``DeletionVectorStore`` and delta-rs implement the identical layout;
datacontract-cli inherits it through those readers.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib
from typing import Any, Dict, Optional, Tuple

import numpy as np

from datacontract_cli_spark.sources.roaring import (
    deserialize_rbm64_portable,
    serialize_rbm64_portable,
)

_Z85_CHARS = ("0123456789abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

DV_FILE_FORMAT_VERSION = 1


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(data), 4):
        (word,) = struct.unpack(">I", data[i:i + 4])
        group = []
        for _ in range(5):
            group.append(_Z85_CHARS[word % 85])
            word //= 85
        out.extend(reversed(group))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(text), 5):
        word = 0
        for c in text[i:i + 5]:
            word = word * 85 + _Z85_INDEX[c]
        out += struct.pack(">I", word)
    return bytes(out)


# ---------------------------------------------------------------------------
# DV file I/O
# ---------------------------------------------------------------------------

def write_dv_file(path: str, blobs: "list[bytes]") -> "list[Tuple[int, int]]":
    """Write DV blobs into one ``.bin`` file; returns per-blob
    ``(offset, sizeInBytes)`` for the descriptors."""
    spans = []
    with open(path, "wb") as f:
        f.write(bytes([DV_FILE_FORMAT_VERSION]))
        pos = 1
        for blob in blobs:
            spans.append((pos, len(blob)))
            f.write(struct.pack(">i", len(blob)))
            f.write(blob)
            f.write(struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
            pos += 4 + len(blob) + 4
    return spans


def read_dv_blob(path: str, offset: int, size: int) -> bytes:
    with open(path, "rb") as f:
        f.seek(offset)
        (stored,) = struct.unpack(">i", f.read(4))
        if stored != size:
            raise ValueError(
                f"DV size mismatch at {path}:{offset}: stored {stored}, "
                f"descriptor says {size}")
        blob = f.read(size)
        (crc,) = struct.unpack(">I", f.read(4))
    if zlib.crc32(blob) & 0xFFFFFFFF != crc:
        raise ValueError(f"DV checksum mismatch at {path}:{offset}")
    return blob


def dv_file_name(uid: _uuid.UUID, prefix: str = "") -> str:
    name = f"deletion_vector_{uid}.bin"
    return os.path.join(prefix, name) if prefix else name


# ---------------------------------------------------------------------------
# descriptors
# ---------------------------------------------------------------------------

def make_descriptor_u(uid: _uuid.UUID, offset: int, size: int,
                      cardinality: int, prefix: str = "") -> Dict[str, Any]:
    return {"storageType": "u",
            "pathOrInlineDv": prefix + z85_encode(uid.bytes),
            "offset": offset, "sizeInBytes": size,
            "cardinality": cardinality}


def deleted_positions(descriptor: Dict[str, Any],
                      table_root: str) -> np.ndarray:
    """Sorted uint64 deleted row indexes of one add-action's DV."""
    st = descriptor.get("storageType")
    ref = descriptor["pathOrInlineDv"]
    size = int(descriptor["sizeInBytes"])
    if st == "i":
        blob = z85_decode(ref)
        if len(blob) < size:
            raise ValueError("inline DV shorter than sizeInBytes")
        return deserialize_rbm64_portable(blob[:size])
    if st == "u":
        prefix, enc = ref[:-20], ref[-20:]
        uid = _uuid.UUID(bytes=z85_decode(enc))
        path = os.path.join(table_root, dv_file_name(uid, prefix))
    elif st == "p":
        path = ref
    else:
        raise NotImplementedError(f"DV storageType {st!r}")
    blob = read_dv_blob(path, int(descriptor.get("offset", 1)), size)
    return deserialize_rbm64_portable(blob)


def build_dv_blob(positions: np.ndarray) -> bytes:
    return serialize_rbm64_portable(np.asarray(positions, dtype=np.uint64))


def normalize_descriptor(dv: Any) -> Optional[Dict[str, Any]]:
    """Checkpoint-parquet DV structs surface as dicts already; JSON
    commits too. None/missing stays None; empty struct rows (all-null,
    how parquet represents an absent struct) normalize to None."""
    if not dv or not isinstance(dv, dict):
        return None
    if dv.get("storageType") is None:
        return None
    return dv
