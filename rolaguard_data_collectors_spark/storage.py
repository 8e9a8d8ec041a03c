"""Metadata-storage seam for the lease + version-pointer protocols.

TableLock and SnapshotStore's METADATA operations (the ``_LOCK`` file,
the ``_VERSION`` pointer, manifests) need four primitives:

- ``put_atomic``      — durable all-or-nothing write (readers never see
                        a torn payload)
- ``put_if_absent``   — atomic create-if-not-exists (the lease acquire)
- ``replace_if_match``— compare-and-swap on the current payload (lease
                        refresh, conditional takeover)
- ``delete_if_match`` — conditional delete (lease release / steal)

On POSIX these map to fsync'd rename, ``O_CREAT|O_EXCL``, and
read-compare-replace (the compare->replace window is the lease
contract's documented TOCTOU residue — expiry timing already bounds
it). On an object store WITHOUT atomic rename they map directly to
conditional puts: S3 ``If-None-Match: *`` / ``If-Match: <etag>``, GCS
``ifGenerationMatch`` — which are TRUE CAS, i.e. STRONGER than the
local mapping. ``MemoryConditionalStore`` implements that stronger
contract in-process so the tests can prove the protocols correct on a
rename-less store (tests/test_storage_adapter.py).

Scope: METADATA only. Bulk table data (parquet files/dirs) is written
by Spark and published by the manifest — on an object store the staged
objects are simply written under their final ``data/vN/`` keys and the
manifest commit makes them visible, so no data rename is needed
either; on a local filesystem the commit renames the staged scratch
dir into place instead.
"""

from __future__ import annotations

import os
import threading


class LocalFSStore:
    """POSIX filesystem implementation — the default; byte-compatible
    with the files TableLock/SnapshotStore always wrote."""

    @staticmethod
    def _fsync_dir(path: str) -> None:
        try:
            fd = os.open(path, os.O_RDONLY)
        except OSError:  # pragma: no cover — non-POSIX
            return
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def ensure_root(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)

    def put_atomic(self, path: str, payload: str) -> None:
        # pid+random temp suffix (ADVICE r11): a fixed `path + '.tmp'`
        # (a) let two writers racing in the lease-expiry TOCTOU window
        # interleave on ONE temp file and rename torn content over the
        # target, and (b) left a crash's orphan where vacuum's
        # list_prefix sweep skipped it forever. Unique names make each
        # rename publish a complete payload; orphans end in .tmp and
        # vacuum's manifest sweep deletes them.
        tmp = f"{path}.{os.getpid():x}-{os.urandom(4).hex()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        # the rename's dirent must survive power loss too: an
        # acknowledged commit pointer that vanishes is a lost commit
        # (the caller already deleted its scratch)
        self._fsync_dir(os.path.dirname(path) or ".")

    def put_if_absent(self, path: str, payload: str) -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        return True

    def read(self, path: str) -> str | None:
        try:
            with open(path, encoding="utf-8") as fh:
                return fh.read()
        except OSError:
            return None

    def replace_if_match(self, path: str, payload: str,
                         expected: str) -> bool:
        """Read-compare-replace. NOT true CAS — the window between the
        compare and the replace is the lease protocol's documented
        TOCTOU residue (bounded by lease expiry timing); object-store
        adapters close it with a real conditional put."""
        if self.read(path) != expected:
            return False
        self.put_atomic(path, payload)
        return True

    def delete_if_match(self, path: str, expected: str) -> bool:
        if self.read(path) != expected:
            return False
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass  # raced with a breaker: already gone
        return True

    def delete(self, path: str) -> None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def list_prefix(self, dirpath: str) -> list[str]:
        """Names of objects directly under ``dirpath`` (files only) —
        the manifest-sweep primitive (object stores: LIST by prefix)."""
        try:
            return sorted(
                n for n in os.listdir(dirpath)
                if os.path.isfile(os.path.join(dirpath, n))
            )
        except OSError:
            return []


class MemoryConditionalStore:
    """In-process reference implementation of a rename-less store with
    TRUE conditional writes (the S3 If-Match / GCS ifGenerationMatch
    contract): every mutation is a single atomic compare-and-set under
    one mutex. Used by tests to prove the lease and version-pointer
    protocols survive on stores without atomic rename; also the
    template an S3/GCS adapter would follow (swap the dict ops for
    conditional PUT/DELETE calls)."""

    def __init__(self):
        self._objects: dict[str, str] = {}
        self._mu = threading.Lock()

    def ensure_root(self, root: str) -> None:
        pass  # object stores have no directories

    def put_atomic(self, path: str, payload: str) -> None:
        with self._mu:
            self._objects[path] = payload

    def put_if_absent(self, path: str, payload: str) -> bool:
        with self._mu:
            if path in self._objects:
                return False
            self._objects[path] = payload
            return True

    def read(self, path: str) -> str | None:
        with self._mu:
            return self._objects.get(path)

    def replace_if_match(self, path: str, payload: str,
                         expected: str) -> bool:
        with self._mu:
            if self._objects.get(path) != expected:
                return False
            self._objects[path] = payload
            return True

    def delete_if_match(self, path: str, expected: str) -> bool:
        with self._mu:
            if self._objects.get(path) != expected:
                return False
            del self._objects[path]
            return True

    def delete(self, path: str) -> None:
        with self._mu:
            self._objects.pop(path, None)

    def list_prefix(self, dirpath: str) -> list[str]:
        prefix = dirpath.rstrip("/") + "/"
        with self._mu:
            return sorted(
                k[len(prefix):] for k in self._objects
                if k.startswith(prefix) and "/" not in k[len(prefix):]
            )


LOCAL = LocalFSStore()


# --- path -> store resolution (round 12, ADVICE r11) -----------------------
#
# The sinks and builders (NearDupLedgerSink, IvfAppendSink, the
# persist_*/append_*/maintenance paths) construct SnapshotStore and
# TableLock from a table ROOT alone — threading an explicit adapter
# through every one of those call sites would make the seam a
# per-callsite chore and any missed site a silent LOCAL fallback (the
# exact bug class ADVICE r11 flagged for the internal maintenance
# locks). Instead the store is RESOLVED from the path, Hadoop
# FileSystem.get-style: an adapter registered for a prefix (e.g.
# "s3://bucket/warehouse") is picked up by every construction site at
# once, longest prefix wins, LOCAL otherwise. Explicit ``adapter=``
# still overrides (tests pass stores directly).

_ADAPTERS: list[tuple[str, object]] = []


def register_adapter(prefix: str, store) -> None:
    """Route every SnapshotStore/TableLock whose root starts with
    ``prefix`` through ``store``. Longest registered prefix wins."""
    unregister_adapter(prefix)
    _ADAPTERS.append((prefix, store))
    _ADAPTERS.sort(key=lambda ps: len(ps[0]), reverse=True)


def unregister_adapter(prefix: str) -> None:
    _ADAPTERS[:] = [ps for ps in _ADAPTERS if ps[0] != prefix]


def store_for(path: str):
    """The store governing ``path``: longest registered prefix match
    AT A PATH BOUNDARY (review find: a raw startswith let
    's3://bucket/warehouse' capture 's3://bucket/warehouse2'), else
    the POSIX default."""
    for prefix, store in _ADAPTERS:
        p = prefix.rstrip("/")
        if path == p or path.startswith(p + "/"):
            return store
    return LOCAL
