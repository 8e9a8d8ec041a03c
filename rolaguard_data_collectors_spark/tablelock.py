"""Single-writer lease for a maintained table root — the concurrency
contract shared by every mutator of a snapshot table (snapshots.py):
the exactly-once sinks (CascadeMaintenanceSink, NearDupLedgerSink,
IvfAppendSink/IvfDeleteSink), the one-shot maintenance calls
(``cascade_append``, ``ledger_append``, ``ivf_index_append``, ...) and
the store's own maintenance (``SnapshotStore.compact`` / ``expire`` /
``vacuum`` / ``rollback``).

Why it exists (round-10 verdict item #1): every one of those writers
stages a post-state from what it READ of the live table and then
commits it — two unserialized writers would each stage a pre-state
missing the other's rows, and the second commit would silently erase
the first. The fix is the standard one: all mutating operations on a
table root serialize through one lease file, ``<root>/_LOCK`` (the
underscore prefix keeps Spark's partition discovery from reading it as
data).

Semantics:

- ``acquire`` creates the file with O_CREAT|O_EXCL (atomic on POSIX and
  on the object-store gateways that expose if-none-match create; on a
  multi-node deployment the same protocol runs against the store's
  conditional-put primitive).
- The payload records owner, host, pid and an EXPIRY timestamp (the
  lease). A contender may break the lock only when the lease expired,
  or when the holder is a dead pid on the SAME host (crash cleanup —
  cross-host pid checks are meaningless and are not attempted).
- Long-running holders call ``refresh()`` between phases to extend the
  lease; a holder that outlives its lease without refreshing has no
  protection (same contract as every lease system) — size
  ``lease_seconds`` to the operation, generously.
- Locks do NOT nest/re-enter: one ``TableLock`` instance, one acquire.

Scope note — WRITERS only. Readers never lock: they resolve the
snapshot table's version pointer once and scan a pinned list of
immutable directories, so no commit can pull files out from under
them.
"""

from __future__ import annotations

import json
import os
import socket
import time
import uuid

from .storage import store_for


class LockHeldError(TimeoutError):
    """Raised when the lease cannot be acquired within ``timeout``."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except OSError:
        return True
    return True


class TableLock:
    """``with TableLock(root, owner="compact"):`` — exclusive lease on a
    table root. See module docstring for the contract."""

    LOCK_NAME = "_LOCK"

    def __init__(
        self,
        root: str,
        owner: str = "",
        timeout: float = 120.0,
        lease_seconds: float = 300.0,
        poll: float = 0.05,
        adapter=None,
    ):
        self.root = root
        self.path = os.path.join(root, self.LOCK_NAME)
        self.owner = owner or "anonymous"
        self.timeout = timeout
        self.lease_seconds = lease_seconds
        self.poll = poll
        # Storage seam (storage.py): all lock-file I/O goes through
        # the adapter — the POSIX default preserves the historical
        # O_EXCL/rename behavior; a conditional-put adapter runs the
        # same protocol on stores without atomic rename (and its true
        # CAS closes the local read-compare-replace TOCTOU windows).
        # With no explicit adapter the store is RESOLVED from the
        # root (storage.store_for), so locks built deep inside sinks
        # and builders land on the same store as the metadata they
        # protect (ADVICE r11).
        self._store = adapter if adapter is not None else store_for(root)
        self._held = False
        # Exact payload we last wrote: refresh/release are conditional
        # on it (compare-and-swap identity — strictly stronger than
        # the old field-tuple _is_mine check).
        self._last_payload: str | None = None
        # Per-ACQUISITION nonce (round-10 stress find): identity by
        # (owner, host, pid) alone collides for two threads of one
        # process running the same op — thread A's release() would
        # read thread B's byte-identical payload as its own and unlink
        # B's HELD lock, after which a third writer acquires while B
        # still believes it holds (B's refresh then dies with a bogus
        # 'lease lost'). The token makes _is_mine exact.
        self._token: str | None = None

    # -- payload ----------------------------------------------------------
    def _payload(self) -> str:
        return json.dumps(
            {
                "owner": self.owner,
                "host": socket.gethostname(),
                "pid": os.getpid(),
                "token": self._token,
                "expiry": time.time() + self.lease_seconds,
            }
        )

    @staticmethod
    def _parse(raw: str | None) -> dict | None:
        if raw is None:
            return None  # vanished
        try:
            return json.loads(raw)
        except ValueError:
            return None  # torn write by a crashed acquirer

    def _is_stale(self, info: dict | None) -> bool:
        if info is None:
            return True  # unreadable/torn lock file: nobody can hold it
        if info.get("expiry", 0) < time.time():
            return True
        if (
            info.get("host") == socket.gethostname()
            and isinstance(info.get("pid"), int)
            and not _pid_alive(info["pid"])
        ):
            return True  # crashed same-host holder
        return False

    # -- protocol ----------------------------------------------------------
    def acquire(self) -> "TableLock":
        self._store.ensure_root(self.root)
        self._token = uuid.uuid4().hex
        deadline = time.time() + self.timeout
        while True:
            payload = self._payload()
            if self._store.put_if_absent(self.path, payload):
                self._held = True
                self._last_payload = payload
                return self
            raw = self._store.read(self.path)
            info = self._parse(raw)
            if self._is_stale(info):
                # Break the stale lease CONDITIONALLY on the payload we
                # judged stale — a concurrent breaker or a fresh acquire
                # between our read and the delete leaves the new lock
                # intact (one breaker wins the delete; put_if_absent
                # lets exactly one of them create).
                if raw is not None:
                    self._store.delete_if_match(self.path, raw)
                continue
            if time.time() > deadline:
                raise LockHeldError(
                    f"table lock {self.path} held by "
                    f"{info.get('owner')}@{info.get('host')} "
                    f"pid {info.get('pid')} (lease until "
                    f"{info.get('expiry')}); waited {self.timeout}s"
                )
            time.sleep(self.poll)

    def _is_mine(self) -> bool:
        return (
            self._last_payload is not None
            and self._store.read(self.path) == self._last_payload
        )

    def refresh(self) -> None:
        """Extend the lease (holder only). Phase boundaries of long
        operations call this so a slow distributed stage can't outlive
        its lease mid-commit. If the lease already expired and another
        writer took over, refresh RAISES instead of clobbering the new
        holder's lock — a compare-and-swap on the exact payload we last
        wrote (true CAS on conditional-put stores; on the local
        adapter the read-compare-replace window is the lease
        contract's usual residue: size lease_seconds so
        expiry-while-alive never happens)."""
        if not self._held:
            raise RuntimeError("refresh() without the lock held")
        payload = self._payload()
        if self._last_payload is None or not self._store.replace_if_match(
            self.path, payload, self._last_payload
        ):
            self._held = False
            raise LockHeldError(
                f"lease on {self.path} was lost (expired and taken "
                f"over) — aborting before any further mutation"
            )
        self._last_payload = payload

    def release(self) -> None:
        if self._held:
            self._held = False
            # delete only OUR lock: after an expiry+takeover the file
            # belongs to the new holder and must survive our release
            if self._last_payload is not None:
                self._store.delete_if_match(self.path, self._last_payload)
            self._last_payload = None

    def __enter__(self) -> "TableLock":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()
