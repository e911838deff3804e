"""One durable snapshot per committed micro-batch of a foreachBatch query.

Structured Streaming durably commits batch OFFSETS to the checkpoint; the
query's driver-held state (a sketch, a dedup filter pair, a profile, a
sample) must be equally durable, or a restart resumes past committed batches
with state that lacks them. Every snapshot is one framed file,
``<checkpoint>/sketch_state/batch_<id>.bin``:

    magic   4s   b"PBSN"
    batch   i64  micro-batch id whose fold the payload includes
    length  u64  payload bytes
    crc     u32  zlib.crc32 of the payload
    payload      the query kind's own codec

Local-filesystem checkpoints only; an object-store deployment would swap
this class for put/list calls.
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import NoReturn

_MAGIC = b"PBSN"
_FRAME = struct.Struct("<4sqQI")


class SnapshotStore:
    """load() the newest snapshot; save() one per batch, keeping two."""

    def __init__(self, checkpoint_dir: str):
        self.checkpoint_dir = checkpoint_dir.removeprefix("file:")
        self.dir = os.path.join(self.checkpoint_dir, "sketch_state")

    def _snapshots(self) -> list[tuple[int, str]]:
        """(batch_id, file name) of every snapshot, oldest first. Any
        ``<prefix>_<batch>.bin`` counts, so an unframed file another layout
        left here fails loudly in load() instead of being skipped."""
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return []
        out = []
        for f in names:
            stem, _, bid = f.removesuffix(".bin").rpartition("_")
            if f.endswith(".bin") and stem and bid.isdigit():
                out.append((int(bid), f))
        return sorted(out)

    def load(self) -> tuple[bytes | None, int]:
        """(payload, batch_id) of the newest snapshot, or (None, -1).

        A damaged newest snapshot raises; it never falls back to the older
        one, because Spark may already have committed the newer batch and
        would never replay it."""
        snaps = self._snapshots()
        if not snaps:
            return None, -1
        bid, f = snaps[-1]
        path = os.path.join(self.dir, f)
        with open(path, "rb") as fh:
            raw = fh.read()
        if not raw:
            self._damaged(path, bid, "is empty")
        if len(raw) < _FRAME.size or raw[:4] != _MAGIC:
            self._damaged(path, bid, "has no snapshot frame")
        _, framed_bid, length, crc = _FRAME.unpack_from(raw)
        payload = raw[_FRAME.size:]
        if framed_bid != bid:
            self._damaged(path, bid, f"is framed as batch {framed_bid}")
        if len(payload) != length:
            self._damaged(path, bid, f"holds {len(payload)} payload bytes "
                                     f"where its frame says {length}")
        if zlib.crc32(payload) != crc:
            self._damaged(path, bid, "fails its CRC")
        return payload, bid

    def _damaged(self, path: str, bid: int, what: str) -> NoReturn:
        raise ValueError(
            f"stream snapshot {path} (batch {bid}) {what}. Spark has already "
            f"committed batch {bid}, so no older snapshot can stand in for "
            f"it: stop the query and delete its whole checkpoint directory "
            f"{self.checkpoint_dir}, then restart it to rebuild from the "
            f"source")

    def save(self, batch_id: int, payload: bytes) -> None:
        os.makedirs(self.dir, exist_ok=True)
        tmp = os.path.join(self.dir, f".batch_{batch_id}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(_FRAME.pack(_MAGIC, batch_id, len(payload),
                                 zlib.crc32(payload)))
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.dir, f"batch_{batch_id:012d}.bin"))
        # the rename itself is durable only once the directory entry is
        fd = os.open(self.dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        for _, f in self._snapshots()[:-2]:  # keep the two newest
            try:
                os.remove(os.path.join(self.dir, f))
            except FileNotFoundError:
                pass
