"""Storage extension — the reference's experimental KV-storage
extension point (extension/experimental/storage/storage.go:14-56: an
Extension whose ``GetClient(kind, id, storageName)`` hands each
component its own persistent map-like client; Get of a missing key is
``None`` not an error, Set overwrites, Delete no-ops, Batch applies
mixed operations with Get results put in-place — "mirrors the behavior
of a golang map"), plus the nop client (nop_client.go).

File-backed implementation (the contrib file_storage shape): each
(kind, component-id, storage-name) scope owns one file under the
extension's directory; every mutation rewrites the scope file through
the spool's one durable write (``sources/spool.write_durable``: temp +
fsync + atomic rename), so state survives process restarts — the
property the persistent-queue semantics lean on.  Values are raw bytes;
the on-disk format is a length-prefixed record stream (no JSON — values
are binary).
"""

from __future__ import annotations

import hashlib
import os
import re
import struct
from dataclasses import dataclass

from ..sources.spool import write_durable


@dataclass
class Operation:
    """One Batch op (storage.go:58-76): op in {get, set, delete};
    ``value`` is the Set payload, and Batch writes Get results back
    into it in place."""

    op: str
    key: str
    value: bytes | None = None


def _validate_batch(ops: tuple[Operation, ...]) -> None:
    """Reject a malformed batch BEFORE any mutation is applied, so a
    ValueError never leaves a half-applied batch behind (the golang-map
    contract has no partial-batch state)."""
    for op in ops:
        if op.op not in ("get", "set", "delete"):
            raise ValueError(f"unknown op {op.op!r}")
        if op.op == "set" and op.value is None:
            raise ValueError(f"set {op.key!r} without a value")


def get_op(key: str) -> Operation:
    return Operation("get", key)


def set_op(key: str, value: bytes) -> Operation:
    return Operation("set", key, value)


def delete_op(key: str) -> Operation:
    return Operation("delete", key)


class StorageClient:
    """The Client contract (storage.go:36-56)."""

    def get(self, key: str) -> bytes | None:
        raise NotImplementedError

    def set(self, key: str, value: bytes) -> None:
        raise NotImplementedError

    def delete(self, key: str) -> None:
        raise NotImplementedError

    def batch(self, *ops: Operation) -> None:
        _validate_batch(ops)
        for op in ops:
            if op.op == "get":
                op.value = self.get(op.key)
            elif op.op == "set":
                self.set(op.key, op.value)
            else:
                self.delete(op.key)

    def close(self) -> None:                 # pragma: no cover
        pass


class NopStorageClient(StorageClient):
    """nop_client.go: every operation succeeds and stores nothing."""

    def get(self, key: str) -> bytes | None:
        return None

    def set(self, key: str, value: bytes) -> None:
        pass

    def delete(self, key: str) -> None:
        pass


_MAGIC = b"OASKV1\n"


class FileStorageClient(StorageClient):
    """One scope's persistent map, write-through to an atomically
    replaced file."""

    def __init__(self, path: str):
        self._path = path
        self._data: dict[str, bytes] = {}
        if os.path.exists(path):
            self._load()

    def _load(self) -> None:
        with open(self._path, "rb") as f:
            blob = f.read()
        if not blob.startswith(_MAGIC):
            raise ValueError(f"not a storage file: {self._path}")
        pos = len(_MAGIC)
        data: dict[str, bytes] = {}
        while pos < len(blob):
            klen, vlen = struct.unpack_from(">II", blob, pos)
            pos += 8
            key = blob[pos:pos + klen].decode("utf-8")
            pos += klen
            data[key] = blob[pos:pos + vlen]
            pos += vlen
        self._data = data

    def _flush(self) -> None:
        out = bytearray(_MAGIC)
        for k in sorted(self._data):
            kb = k.encode("utf-8")
            v = self._data[k]
            out += struct.pack(">II", len(kb), len(v)) + kb + v
        write_durable(self._path, out)       # ack-after-persist

    def get(self, key: str) -> bytes | None:
        return self._data.get(key)

    def set(self, key: str, value: bytes) -> None:
        self._data[key] = bytes(value)
        self._flush()

    def delete(self, key: str) -> None:
        if key in self._data:
            del self._data[key]
            self._flush()

    def batch(self, *ops: Operation) -> None:
        """Apply the whole batch with ONE atomic file replacement (the
        reference's Batch is a single storage round-trip; per-op
        flushing would also expose a torn intermediate state on
        crash).  Validation runs over the whole batch before any
        mutation, so a bad trailing op cannot leave earlier sets
        applied in memory but unflushed."""
        _validate_batch(ops)
        mutated = False
        for op in ops:
            if op.op == "get":
                op.value = self._data.get(op.key)
            elif op.op == "set":
                self._data[op.key] = bytes(op.value)
                mutated = True
            elif op.key in self._data:
                del self._data[op.key]
                mutated = True
        if mutated:
            self._flush()


def _safe(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "_", name) or "_"


class FileStorageExtension:
    """The Extension half (storage.go:14-22): one client per
    (component kind, component id, storage name) scope, each persisted
    in its own file so components never see each other's keys."""

    def __init__(self, directory: str):
        self.directory = directory
        os.makedirs(directory, exist_ok=True)
        self._clients: dict[tuple[str, str, str], FileStorageClient] = {}

    def get_client(self, kind: str, component_id: str,
                   storage_name: str = "") -> FileStorageClient:
        key = (kind, component_id, storage_name)
        if key not in self._clients:
            # _safe() maps every reserved char to '_', so distinct
            # scopes (e.g. ids 'otlp/http' vs 'otlp_http') could
            # collide on one file; a digest of the RAW tuple makes the
            # filename injective while keeping it human-readable.
            raw = "\x00".join(key).encode("utf-8")
            tag = hashlib.md5(raw).hexdigest()[:8]
            stem = "~".join(_safe(p) for p in key)
            path = os.path.join(self.directory, f"{stem}~{tag}.kv")
            legacy = os.path.join(self.directory, f"{stem}.kv")
            if not os.path.exists(path) and os.path.exists(legacy):
                # state persisted under the pre-digest naming scheme
                # migrates forward instead of being silently orphaned
                os.replace(legacy, path)
            self._clients[key] = FileStorageClient(path)
        return self._clients[key]

    def shutdown(self) -> None:
        for c in self._clients.values():
            c.close()
        self._clients.clear()
