"""Sketch ABC + envelope (de)serialization.

Wire format (little-endian) — the Spark analogue of the reference's opaque
``vector<uint8_t>`` filter state (``src/bloom_filter.hpp:66-70``; round-trip
invariant tested at ``tests/unit_test1.cpp:108-116``):

    magic   4s   b"PBFS"
    version u16  1
    kind    u16  registry code
    hdrlen  u32  length of the kind-specific JSON config header
    header  hdrlen bytes (JSON: geometry + seed)
    payload rest (kind-specific dense state)

JSON for the tiny config header keeps the format debuggable; the payload is
raw numpy bytes so (de)serialization is zero-copy-ish and cheap to broadcast.
"""

from __future__ import annotations

import json
import struct
from abc import ABC, abstractmethod
from typing import Any, ClassVar

import numpy as np

_MAGIC = b"PBFS"
_VERSION = 1
_ENVELOPE = struct.Struct("<4sHHI")

# kind name -> (code, class); populated by @register
_REGISTRY: dict[str, tuple[int, type]] = {}
_BY_CODE: dict[int, type] = {}


def register(code: int):
    def deco(cls):
        _REGISTRY[cls.kind] = (code, cls)
        _BY_CODE[code] = cls
        return cls

    return deco


class Sketch(ABC):
    """Mergeable sketch: build → merge (assoc+comm) → query → serialize."""

    kind: ClassVar[str]

    # -- build ---------------------------------------------------------------
    @abstractmethod
    def insert_bulk(self, values: np.ndarray) -> None:
        """Vectorized bulk build; the only hot-path entry point."""

    def insert(self, value) -> None:
        """Single-item convenience (reference ``insert``, bloom_filter.hpp:44)."""
        self.insert_bulk(np.asarray([value]))

    # -- merge ---------------------------------------------------------------
    @abstractmethod
    def merge(self, other: "Sketch") -> "Sketch":
        """In-place associative/commutative combine; returns self."""

    # -- introspection -------------------------------------------------------
    @abstractmethod
    def config(self) -> dict[str, Any]:
        """Kind-specific JSON-serializable geometry/config."""

    @abstractmethod
    def payload(self) -> bytes:
        """Dense state bytes."""

    @abstractmethod
    def _load_payload(self, raw: bytes) -> None: ...

    @classmethod
    @abstractmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "Sketch": ...

    # -- serialization (shared) ----------------------------------------------
    def to_bytes(self) -> bytes:
        code = _REGISTRY[self.kind][0]
        hdr = json.dumps(self.config(), sort_keys=True).encode()
        return _ENVELOPE.pack(_MAGIC, _VERSION, code, len(hdr)) + hdr + self.payload()

    # reference get_data/set_data (src/bloom_filter.hpp:66-70)
    def get_data(self) -> bytes:
        return self.payload()

    def set_data(self, raw: bytes) -> None:
        self._load_payload(raw)

    def _check_mergeable(self, other: "Sketch") -> None:
        if type(other) is not type(self) or other.config() != self.config():
            raise ValueError(
                f"cannot merge {type(other).__name__}{other.config() if isinstance(other, Sketch) else ''}"
                f" into {type(self).__name__}{self.config()}"
            )


def payload_size_error(kind: str, dense_bytes: int, tags: str, raw: bytes) -> ValueError:
    """A payload that is neither the geometry's dense form nor a well-formed
    sparse one: name what was expected and what arrived."""
    lead = f"0x{raw[0]:02x}" if raw else "none"
    return ValueError(
        f"{kind} payload size mismatch: expected {dense_bytes} dense bytes or a "
        f"sparse payload tagged {tags}, got {len(raw)} bytes with leading byte {lead}")


def sketch_from_bytes(raw: bytes) -> Sketch:
    magic, version, code, hdrlen = _ENVELOPE.unpack_from(raw, 0)
    if magic != _MAGIC:
        raise ValueError("bad sketch magic")
    if version != _VERSION:
        raise ValueError(f"unsupported sketch version {version}")
    off = _ENVELOPE.size
    cfg = json.loads(raw[off : off + hdrlen].decode())
    cls = _BY_CODE[code]
    sk = cls._from_config(cfg)
    sk._load_payload(raw[off + hdrlen :])
    return sk
