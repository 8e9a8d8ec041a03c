"""Versioned snapshot layout for maintained parquet tables — the
manifest/version-pointer trick (the published core of Iceberg/Delta:
commits write NEW immutable files and atomically flip a pointer; see
the Iceberg spec's snapshot/manifest model and the Delta Lake VLDB'20
paper). It is the ONE layout of every maintained artifact (cascade
grains, near-dup ledger, IVF index): the single-writer lease
(``tablelock.py``) serializes mutators, and this layer gives readers
snapshot isolation on top. A commit never deletes anything a reader
can see:

    <root>/_VERSION                   current version {"version": N}
                                      (os.replace flip = the commit point)
    <root>/_manifests/v000007.json    immutable manifest per version
    <root>/data/v000007/<table>/_dp=<day>/part-*.parquet
                                      immutable data dirs, written once

A manifest maps every (table, key) to the LIST of data directories
that hold that partition's current content; untouched partitions keep
pointing at directories published by earlier versions, so a commit
costs O(touched partitions) metadata on top of the staged data it
renames in. Commits come in two modes: ``replace`` (the staged dir
becomes the partition's whole content — the cascade/ledger merge
shape, whose stages compute complete post-states) and ``add`` (the
staged dir is APPENDED to the partition's list — the IVF posting
shape, where an epoch contributes new rows and must not pay a
whole-cell rewrite). Readers resolve the pointer ONCE, then scan a pinned list of
immutable directories: no commit can yank files out from under them,
any historical version is readable until vacuumed (time travel), and
a multi-table commit (all three cascade grains, or a retraction that
drops a day at every grain) is ATOMIC. Partition pruning happens in
the manifest (``read(days=...)`` lists only the requested days'
directories — zero directory listing, zero footer reads for skipped
partitions).

Write protocol (caller holds the table's single-writer lease):

    1. stage the touched partitions' complete post-state under a
       scratch dir: ``<edir>/<table>/_dp=<day>/*.parquet`` (files keep
       all data columns; the ``_dp=`` dirname is only a carrier), plus
       ``_SCHEMAS.json`` (Spark schema per staged table — typed empty
       reads), optional ``_DROPPED`` (keys to remove: a list drops them
       from EVERY table, a ``{table: [keys]}`` dict per table).
    2. ``commit_staged``: write ``_COMMIT_META`` into the scratch,
       ``os.rename(edir, data/vN)`` — one atomic publish of all data —
       then build manifest vN from manifest v(N-1) + the renamed dir,
       write it (temp+rename), and flip ``_VERSION`` (os.replace).

Every maintenance entry point first opens its root with
``SnapshotStore.open``, which raises ``NotASnapshotRootError`` for a
path that is not a snapshot table — a mistyped or unbuilt path fails
loudly instead of growing a new table tree.

Every crash window re-enters through ``recover()``: a data dir
without its manifest rebuilds it (the build is a pure function of the
parent manifest and the dir's contents — ``_COMMIT_META``/``_DROPPED``
travel inside it), a manifest without the pointer flip gets flipped.
Exactly-once streaming epochs ride the manifest itself: ``epoch_high``
(per direction) is carried forward and bumped by each commit, so "is
this epoch committed" is answered by the SAME atomic write that
published the epoch's data — no ordering hazard between publishing
the data and recording the epoch (epoch ids are monotone per
direction under Structured Streaming's replay contract, which replays
only the last epoch).

``vacuum(keep_last=K)`` deletes data dirs no retained manifest
references. The reader contract is the standard one: a reader may pin
a snapshot for as long as K-1 subsequent commits can occur; size K to
the longest scan (Iceberg's snapshot-expiry contract). ``expire``
(partition retention) is METADATA-ONLY — a new manifest without the
dropped days; the bytes go at the next vacuum — so retention on a
100 TB table is O(partitions) pointer work, not an O(data) delete.

Scale note — manifest size: every commit rewrites the full
(table, key) -> dirs map, so manifests are O(live partitions). That is
the right trade for the partition grains this engine maintains (days,
hash buckets, IVF cells: 10^2-10^5 entries, a few MB of JSON at the
top end); a table with millions of partitions would need Iceberg's
next trick — split manifests with a manifest list — which the layout
leaves room for (the pointer would name a manifest LIST instead).
Reader concurrency is lock-free by design; the single-writer lease
only serializes mutators.

Reference parity note: the reference keeps no historical state at all
(mutable dicts, `auditing/datacollectors/BaseCollector.py:20-25`);
this layer exists for the engine's own maintained lake artifacts.
"""

from __future__ import annotations

import json
import os
import shutil

from .storage import LOCAL as LOCAL_STORE
from .storage import store_for
from .tablelock import TableLock

STAGE_PART_PREFIX = "_dp="
_META = "_COMMIT_META"
_DROPPED = "_DROPPED"
_SCHEMAS = "_SCHEMAS.json"
# Day key of NULL-timestamp rows in day-keyed tables (the cascade grains
# partition them here so they stay readable).
NULL_DAY = "__null__"


class SnapshotError(RuntimeError):
    pass


class SnapshotVacuumedError(SnapshotError):
    """The requested historical version's manifest was vacuumed."""


class NotASnapshotRootError(ValueError):
    """A maintenance entry point was handed a path that holds no
    snapshot table (see ``SnapshotStore.open``)."""


def _fsync_dir(path: str) -> None:
    """fsync a DIRECTORY so a just-renamed/created entry survives power
    loss — file fsync alone does not make the rename durable (the
    dirent lives in the directory). No-op where directories can't be
    opened (the object-store adapters get durability from the store)."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:  # pragma: no cover — non-POSIX / adapter-backed
        return
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _atomic_write(path: str, payload: str) -> None:
    """Delegates to the POSIX storage primitive (storage.py
    put_atomic: pid+random temp name, file fsync, rename, dir fsync) —
    this was a line-for-line duplicate and the round-12 temp-name
    hardening had to be applied twice (review find). Used for
    LOCAL-ONLY scratch/commit-meta files that ride inside data dirs;
    adapter-routed metadata goes through self._store directly."""
    LOCAL_STORE.put_atomic(path, payload)


def stage_epoch_once(epoch_root: str, epoch: int, stage) -> tuple[str, str]:
    """The streaming sinks' stage step: ``stage(edir)`` computes epoch
    ``epoch``'s post-state into ``<epoch_root>/epoch=N`` ONCE, then a
    ``_STAGED`` marker (temp+rename) records its returned text. A
    replay after a crash between marker and commit reuses the staged
    scratch instead of re-staging; stale scratch of any OTHER epoch (a
    crashed attempt) is cleared first. Caller holds the lease and has
    already checked the epoch is uncommitted. Returns (edir, marker
    text)."""
    os.makedirs(epoch_root, exist_ok=True)
    name = f"epoch={epoch}"
    for d in os.listdir(epoch_root):
        if d != name:
            shutil.rmtree(os.path.join(epoch_root, d), ignore_errors=True)
    edir = os.path.join(epoch_root, name)
    marker = os.path.join(edir, "_STAGED")
    if not os.path.exists(marker):
        shutil.rmtree(edir, ignore_errors=True)
        text = stage(edir) or ""
        os.makedirs(edir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(text + "\n")
        os.replace(tmp, marker)
    with open(marker, encoding="utf-8") as fh:
        return edir, fh.read().strip()


class SnapshotStore:
    """One snapshot-versioned table root holding named sub-tables
    (the cascade's minute/hour/day grains) partitioned by a day key.
    All mutators require the caller to hold the root's ``TableLock``
    unless noted; readers never lock."""

    VERSION_FILE = "_VERSION"
    MANIFEST_DIR = "_manifests"
    DATA_DIR = "data"

    def __init__(self, root: str, adapter=None):
        self.root = root
        # Storage seam (storage.py): the METADATA plane — the
        # ``_VERSION`` pointer and the manifests — goes through the
        # adapter, so the commit protocol (stage data -> write
        # manifest -> flip pointer) runs unchanged on a conditional-put
        # object store without atomic rename. Bulk data dirs stay on
        # the filesystem Spark writes to.
        self._store = adapter if adapter is not None else store_for(root)
        self._manifest_cache: dict[int, dict] = {}

    # -- identity ----------------------------------------------------------
    @staticmethod
    def is_snapshot(root: str, adapter=None) -> bool:
        store = adapter if adapter is not None else store_for(root)
        return store.read(
            os.path.join(root, SnapshotStore.VERSION_FILE)
        ) is not None

    @classmethod
    def open(cls, root: str, op: str) -> "SnapshotStore":
        """The root check every maintenance entry point makes BEFORE it
        takes the lease or writes anything: ``root`` must already be a
        snapshot table — built by ``persist_cascade`` /
        ``persist_near_dup_ledger`` / ``persist_ivf_index``, or born
        empty with ``SnapshotStore.create``."""
        if not cls.is_snapshot(root):
            raise NotASnapshotRootError(
                f"{op}: {root} is not a snapshot table root (no "
                f"{cls.VERSION_FILE}); build it with persist_cascade / "
                "persist_near_dup_ledger / persist_ivf_index, or start "
                "an empty one with SnapshotStore.create"
            )
        return cls(root)

    @classmethod
    def create(cls, root: str, adapter=None) -> "SnapshotStore":
        """Initialize an empty snapshot table (version 0). Called at
        table birth, before any concurrent writer exists; raises if the
        root already holds a snapshot table."""
        store = cls(root, adapter=adapter)
        if cls.is_snapshot(root, adapter=adapter):
            raise SnapshotError(f"{root} is already a snapshot table")
        os.makedirs(os.path.join(root, cls.MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, cls.DATA_DIR), exist_ok=True)
        store._store.put_atomic(
            store._manifest_path(0),
            json.dumps(
                {
                    "version": 0,
                    "parent": None,
                    "op": "create",
                    "epoch_high": {},
                    "tables": {},
                    "schemas": {},
                }
            ),
        )
        # the _VERSION pointer is the table's birth certificate: an
        # atomic create-if-absent makes a lost two-first-builders race
        # fail LOUDLY here instead of both racers proceeding to
        # snapshot-hood (ADVICE r11 — create() previously put_atomic'd
        # over the winner's pointer)
        if not store._store.put_if_absent(
            os.path.join(root, cls.VERSION_FILE), json.dumps({"version": 0})
        ):
            raise SnapshotError(
                f"{root} is already a snapshot table (lost an init race)"
            )
        return store

    @classmethod
    def create_or_resume(cls, root: str, adapter=None) -> "SnapshotStore":
        """``create``, tolerant of a crashed FIRST build: a crash
        between create() and the init commit leaves an empty version-0
        root (nothing committed), which plain ``create`` refuses —
        forcing manual deletion. Resumes that case; still raises if
        the root holds any committed content (the builder guards'
        'already a snapshot table, maintain it incrementally' case)."""
        if not cls.is_snapshot(root, adapter=adapter):
            return cls.create(root, adapter=adapter)
        store = cls(root, adapter=adapter)
        store.recover()  # a pending v1 commit means content exists
        m = store.manifest()
        if m["version"] == 0 and not m["tables"]:
            return store
        raise SnapshotError(
            f"{root} is already a snapshot table with committed content"
        )

    @classmethod
    def has_committed_content(cls, root: str, adapter=None) -> bool:
        """True if ``root`` is a snapshot table holding (or mid-commit
        on) real content; False for non-snapshot roots AND for the
        empty version-0 window a crash between create() and the init
        commit leaves behind (re-initializable via
        ``create_or_resume``). The builders' double-init guards use
        this so a crashed first build doesn't demand manual root
        deletion."""
        if not cls.is_snapshot(root, adapter=adapter):
            return False
        store = cls(root, adapter=adapter)
        store.recover()
        m = store.manifest()
        return not (m["version"] == 0 and not m["tables"])

    # -- metadata ----------------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, self.MANIFEST_DIR, f"v{version:06d}.json")

    def _data_path(self, version: int) -> str:
        return os.path.join(self.root, self.DATA_DIR, f"v{version:06d}")

    def current_version(self) -> int:
        raw = self._store.read(os.path.join(self.root, self.VERSION_FILE))
        if raw is None:
            raise FileNotFoundError(
                os.path.join(self.root, self.VERSION_FILE)
            )
        return int(json.loads(raw)["version"])

    def manifest(self, version: int | None = None) -> dict:
        cur = self.current_version()
        v = cur if version is None else int(version)
        if v > cur:
            raise SnapshotError(f"version {v} does not exist (current {cur})")
        if v in self._manifest_cache:
            return self._manifest_cache[v]
        raw = self._store.read(self._manifest_path(v))
        if raw is None:
            raise SnapshotVacuumedError(
                f"manifest v{v} of {self.root} was vacuumed "
                f"(current version {cur})"
            )
        m = json.loads(raw)
        self._manifest_cache[v] = m  # manifests are immutable
        return m

    def table_days(self, table: str, version: int | None = None) -> list[str]:
        return sorted(self.manifest(version)["tables"].get(table, {}))

    def epoch_committed(self, direction: str, epoch: int) -> bool:
        high = self.manifest()["epoch_high"].get(direction, -1)
        return epoch <= high

    def epoch_replay_check(self, direction: str, epoch: int) -> bool:
        """Replay guard for streaming sinks asking about the CURRENT
        incoming epoch: True = already committed (skip), False = new
        (apply). Unlike the pure ``epoch_committed`` query, this
        RAISES on epoch REGRESSION: foreachBatch re-delivers at most
        the last possibly-uncommitted epoch (== the high-water mark),
        so an incoming epoch BELOW it means the streaming checkpoint
        was reset/deleted against this store root — the high-water
        form would then silently skip every batch as 'already
        committed' (and unlike a commit-log set, it cannot be cleared
        by truncation). A snapshot-layout sink needs a fresh store
        root (or restore + matching checkpoint) after a checkpoint
        reset."""
        high = self.manifest()["epoch_high"].get(direction, -1)
        if epoch < high:
            raise SnapshotError(
                f"epoch regression on {self.root} direction "
                f"{direction!r}: incoming epoch {epoch} is below the "
                f"committed high-water mark {high}. The streaming "
                "checkpoint was likely reset against an existing "
                "store; use a new store root (or restore the matching "
                "checkpoint) instead of silently skipping batches."
            )
        return epoch == high

    # -- recovery ----------------------------------------------------------
    def recover(self) -> None:
        """Finish a crashed commit (caller holds the lease). Two
        windows exist: data/v(N) renamed in but manifest missing
        (rebuild it — pure function of parent manifest + dir), and
        manifest present but pointer not flipped (flip)."""
        cur = self.current_version()
        n = cur + 1
        if os.path.isdir(self._data_path(n)) or (
            self._store.read(self._manifest_path(n)) is not None
        ):
            self._finish(n)

    def _finish(self, n: int) -> None:
        mpath = self._manifest_path(n)
        if self._store.read(mpath) is None:
            self._store.put_atomic(
                mpath, json.dumps(self._build_manifest(n))
            )
        self._store.put_atomic(
            os.path.join(self.root, self.VERSION_FILE),
            json.dumps({"version": n}),
        )

    @staticmethod
    def _as_list(v) -> list:
        return v if isinstance(v, list) else [v]

    def _build_manifest(self, n: int) -> dict:
        parent = self.manifest(n - 1)
        dest = self._data_path(n)
        meta: dict = {"op": "unknown", "epoch": None, "direction": None}
        mfile = os.path.join(dest, _META)
        if os.path.exists(mfile):
            with open(mfile, encoding="utf-8") as fh:
                meta = json.load(fh)
        base = parent
        if meta.get("restore_version") is not None:
            # rollback: the new version's content IS an older manifest's
            # (readable by construction: rollback validated it under the
            # lease, and vacuum can't run concurrently). epoch_high still
            # inherits from the PARENT — epochs are facts about what was
            # processed, and rewinding them would double-apply replays.
            base = self.manifest(int(meta["restore_version"]))
        tables = {
            t: {k: list(self._as_list(v)) for k, v in parts.items()}
            for t, parts in base["tables"].items()
        }
        schemas = dict(base["schemas"])
        sfile = os.path.join(dest, _SCHEMAS)
        if os.path.exists(sfile):
            with open(sfile, encoding="utf-8") as fh:
                schemas.update(json.load(fh))
        additive = meta.get("mode") == "add"
        if os.path.isdir(dest):
            for table in sorted(os.listdir(dest)):
                tdir = os.path.join(dest, table)
                if table.startswith("_") or not os.path.isdir(tdir):
                    continue
                for part in sorted(os.listdir(tdir)):
                    if not part.startswith(STAGE_PART_PREFIX):
                        continue
                    day = part[len(STAGE_PART_PREFIX):]
                    rel = os.path.join(
                        self.DATA_DIR, f"v{n:06d}", table, part
                    )
                    parts_map = tables.setdefault(table, {})
                    if additive:
                        parts_map.setdefault(day, []).append(rel)
                    else:
                        parts_map[day] = [rel]
        dfile = os.path.join(dest, _DROPPED)
        if os.path.exists(dfile):
            with open(dfile, encoding="utf-8") as fh:
                drops = json.load(fh)
            # list: drop these keys from EVERY table (the cascade's
            # day semantics); dict {table: [keys]}: per-table drops
            # (the ledger's emptied-bucket manifests)
            if isinstance(drops, dict):
                for t, keys in drops.items():
                    for key in keys:
                        tables.get(t, {}).pop(key, None)
            else:
                for key in drops:
                    for parts in tables.values():
                        parts.pop(key, None)
        # metadata-only ops carry their day-drop list in _COMMIT_META
        for day in meta.get("drop_days") or []:
            for t in meta.get("drop_tables") or list(tables):
                tables.get(t, {}).pop(day, None)
        epoch_high = dict(parent.get("epoch_high", {}))
        if meta.get("epoch") is not None and meta.get("direction"):
            d = meta["direction"]
            epoch_high[d] = max(epoch_high.get(d, -1), int(meta["epoch"]))
        out = {
            "version": n,
            "parent": n - 1,
            "op": meta.get("op", "unknown"),
            "epoch_high": epoch_high,
            "tables": tables,
            "schemas": schemas,
        }
        # commit-scoped payload a consumer reads back (e.g. the IVF
        # changed-cells feed); epoch/direction ride along for it
        if meta.get("extra") is not None:
            out["extra"] = meta["extra"]
        if meta.get("epoch") is not None:
            out["epoch"] = meta["epoch"]
            out["direction"] = meta.get("direction")
        if meta.get("restore_version") is not None:
            out["restore_version"] = meta["restore_version"]
        return out

    # -- commit ------------------------------------------------------------
    def commit_staged(
        self,
        edir: str | None,
        op: str,
        epoch: int | None = None,
        direction: str | None = None,
        drop_days: list[str] | None = None,
        drop_tables: list[str] | None = None,
        mode: str = "replace",
        extra: dict | None = None,
        restore_version: int | None = None,
    ) -> int:
        """Publish a staged scratch dir (layout in the module
        docstring) as the next version; ``edir=None`` commits a
        metadata-only version (empty-batch epoch bump, expire). The
        scratch is CONSUMED (renamed into ``data/``). Caller holds the
        lease. ``mode="add"`` APPENDS each staged dir to its
        partition's dir list instead of replacing it (append-only
        tables); ``extra`` is an arbitrary JSON payload recorded in
        the manifest for consumers. Returns the committed version."""
        if mode not in ("replace", "add"):
            raise ValueError(f"commit mode {mode!r}")
        self.recover()
        n = self.current_version() + 1
        meta = {
            "op": op,
            "epoch": epoch,
            "direction": direction,
            "drop_days": drop_days,
            "drop_tables": drop_tables,
            "mode": mode,
            "extra": extra,
            "restore_version": restore_version,
        }
        if edir is not None and os.path.isdir(edir):
            _atomic_write(os.path.join(edir, _META), json.dumps(meta))
            os.rename(edir, self._data_path(n))
            # make the rename durable (same reasoning as _atomic_write:
            # recover() rebuilds the manifest from data/vN, so a lost
            # rename after the scratch was consumed loses the commit)
            _fsync_dir(os.path.dirname(self._data_path(n)))
        else:
            os.makedirs(self._data_path(n))
            _atomic_write(
                os.path.join(self._data_path(n), _META), json.dumps(meta)
            )
        self._finish(n)
        return n

    def commit_if_staged(self, edir: str, op: str,
                         epoch: int | None = None,
                         direction: str | None = None,
                         **kw) -> int | None:
        """``commit_staged`` for a maintenance stage that may have
        staged nothing. Content is any table dir or a ``_DROPPED``
        list — a retraction that empties every touched partition
        stages ONLY the drop list, and committing that metadata-only
        would record the epoch while losing the drops. A streaming
        epoch with nothing staged still commits a metadata-only
        version so the epoch is recorded (else a restart replays it
        forever); a one-shot call with nothing staged commits nothing
        and returns None."""
        staged = os.path.isdir(edir) and any(
            name == _DROPPED
            or (not name.startswith("_")
                and os.path.isdir(os.path.join(edir, name)))
            for name in os.listdir(edir)
        )
        if not staged and epoch is None:
            return None
        return self.commit_staged(edir if staged else None, op=op,
                                  epoch=epoch, direction=direction, **kw)

    # -- read --------------------------------------------------------------
    def read(self, spark, table: str, version: int | None = None,
             days: "list[str] | None" = None):
        """Snapshot-isolated read: resolve the manifest once, scan a
        pinned list of immutable dirs. ``days`` prunes at the manifest
        (no listing, no footers for skipped partitions); ``version``
        time-travels. Empty selections return a TYPED empty frame from
        the manifest's recorded schema.

        The scan is TYPED BY THE MANIFEST's recorded schema (the
        version being read, so time travel sees the schema of its
        day): schema EVOLUTION works the way a lake table expects —
        files written before a column existed project it as NULL
        (parquet by-name resolution), dropped columns are ignored, and
        the result schema never depends on which file the reader
        happened to list first (without this, a multi-dir read's
        schema is whatever the first file has)."""
        m = self.manifest(version)
        entries = m["tables"].get(table)
        if entries is None and table not in m["schemas"]:
            raise KeyError(f"unknown table {table!r} in {self.root}")
        entries = entries or {}
        if days is not None:
            want = {str(d) for d in days}
            entries = {d: p for d, p in entries.items() if d in want}
        schema = None
        if table in m["schemas"]:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m["schemas"][table]))
        if not entries:
            if schema is None:
                raise KeyError(
                    f"table {table!r} in {self.root} has entries=0 and no "
                    f"recorded schema at version {m['version']}"
                )
            return spark.createDataFrame([], schema)
        paths = [
            os.path.join(self.root, p)
            for _, rels in sorted(entries.items())
            for p in self._as_list(rels)
        ]
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def history(self) -> list[dict]:
        """Retained version history, oldest first: one row per
        readable manifest with (version, op, epoch, direction) — the
        operational audit surface (what changed the table, when, which
        streaming epoch it was). Reads manifests WITHOUT populating
        the instance cache: each manifest is O(live partitions) and an
        audit listing over a generous keep_last would otherwise pin
        every retained manifest in memory for the instance lifetime."""
        out = []
        for v in range(self.current_version(), -1, -1):
            m = self._manifest_cache.get(v)
            if m is None:
                raw = self._store.read(self._manifest_path(v))
                if raw is None:
                    break
                m = json.loads(raw)
            row = {
                "version": v,
                "op": m.get("op"),
                "epoch": m.get("epoch"),
                "direction": m.get("direction"),
            }
            if m.get("restore_version") is not None:
                row["restore_version"] = m["restore_version"]
            out.append(row)
        return list(reversed(out))

    def rollback(self, version: int, lock_timeout: float = 120.0) -> int:
        """Restore the table to an older version's exact content as a
        NEW commit — pure metadata (no data IO at any size), the
        instant undo for a bad epoch. The target must still be
        retained (vacuum defines the undo horizon). ``epoch_high`` is
        NOT rewound: epochs record what was processed, and rewinding
        them would make a streaming replay double-apply; a rolled-back
        sink epoch is undone in CONTENT while staying committed in the
        log, which is exactly the semantics of a corrective commit."""
        with TableLock(self.root, owner="snapshot_rollback",
                       timeout=lock_timeout, adapter=self._store):
            self.recover()
            v = int(version)
            # bypass the instance cache (round-10 review find): a
            # DIFFERENT process may have vacuumed the target since
            # this instance cached it — validate against disk, then
            # prove every referenced dir still exists before
            # committing a manifest that points at them
            self._manifest_cache.pop(v, None)
            m = self.manifest(v)  # fresh read; raises if vacuumed/future
            missing = [
                rel
                for parts in m["tables"].values()
                for rels in parts.values()
                for rel in self._as_list(rels)
                if not os.path.isdir(os.path.join(self.root, rel))
            ]
            if missing:
                raise SnapshotVacuumedError(
                    f"rollback target v{v} of {self.root}: "
                    f"{len(missing)} referenced data dir(s) no longer "
                    f"exist (e.g. {missing[0]}) — vacuumed out of the "
                    "undo horizon"
                )
            return self.commit_staged(None, op="rollback",
                                      restore_version=v)

    # -- maintenance (standalone ops: these take the lease themselves) ------
    def compact(self, spark, max_files: int = 8, target_files: int = 1,
                lock_timeout: float = 120.0,
                cluster_by: "tuple[str, str] | None" = None,
                tables: "list[str] | None" = None) -> list[tuple[str, str]]:
        """Rewrite every (table, day) partition whose current data dir
        holds more than ``max_files`` parquet files into
        ``target_files`` files, as ONE new version. Readers of any
        pinned version are untouched (old dirs live until vacuum):
        compaction never deletes what it read.

        ``cluster_by=(xcol, ycol)`` Z-orders each rewritten partition
        (the OPTIMIZE-ZORDER lake pass, via plans/scale.zorder_value):
        range-partition on the Morton key into ``target_files`` files
        and sort within each, so every output file's parquet footer
        carries tight min/max on BOTH columns and a two-sided box
        predicate skips most files before any IO. ``tables`` restricts
        the pass (a multi-table store may Z-order only the table that
        has those columns)."""
        with TableLock(self.root, owner="snapshot_compact",
                       timeout=lock_timeout, adapter=self._store) as lk:
            self.recover()
            m = self.manifest()
            todo: list[tuple[str, str, list[str]]] = []
            for table, parts in m["tables"].items():
                if tables is not None and table not in tables:
                    continue
                for day, rels in parts.items():
                    fulls = [
                        os.path.join(self.root, r)
                        for r in self._as_list(rels)
                    ]
                    n_files = sum(
                        1
                        for full in fulls
                        for f in os.listdir(full)
                        if f.endswith(".parquet")
                    )
                    # n_files counts ACROSS the partition's dir list,
                    # so add-mode spread is inherently budgeted (every
                    # dir carries >=1 file); max_files is the single
                    # fragmentation threshold either way
                    if n_files > max_files:
                        todo.append((table, day, fulls))
            if not todo:
                return []
            edir = os.path.join(self.root, "_stage_compact")
            shutil.rmtree(edir, ignore_errors=True)
            clusterable: dict[str, bool] = {}
            if cluster_by is not None:
                # apply the Z-order only to tables whose schema carries
                # BOTH columns (round-10 review find: a multi-table
                # store — IVF postings + tombstones — would otherwise
                # crash mid-pass on the table lacking the payload
                # columns); others get the plain coalescing rewrite
                for table in {t for t, _, _ in todo}:
                    fields = {
                        f.get("name")
                        for f in json.loads(
                            m["schemas"].get(table, "{}")
                        ).get("fields", [])
                    }
                    clusterable[table] = set(cluster_by) <= fields
            for table, day, fulls in todo:
                # typed read (round-10 review find): an add-mode dir
                # list can span a schema change; an untyped read takes
                # the FIRST file's schema and would silently null the
                # evolved column in the rewrite — the exact hazard
                # read() exists to prevent
                df = self.read(spark, table, days=[day])
                lo_hi = None
                if cluster_by is not None and clusterable.get(table):
                    from pyspark.sql import functions as F

                    from .plans.scale import zorder_value

                    xcol, ycol = cluster_by
                    lo_hi = df.agg(
                        F.min(xcol), F.max(xcol), F.min(ycol), F.max(ycol)
                    ).first()
                if lo_hi is not None and None not in tuple(lo_hi):
                    z = zorder_value(
                        F.col(xcol), F.col(ycol),
                        lo_hi[0], lo_hi[1], lo_hi[2], lo_hi[3],
                    )
                    df = (
                        df.withColumn("_z", z)
                        .repartitionByRange(target_files, "_z")
                        .sortWithinPartitions("_z")
                        .drop("_z")
                    )
                else:
                    # no cluster_by, or a cluster column with no
                    # non-NULL values in this partition (no usable
                    # bounds): plain coalescing rewrite
                    df = df.coalesce(target_files)
                df.write.mode("overwrite").parquet(
                    os.path.join(edir, table, STAGE_PART_PREFIX + day)
                )
            lk.refresh()  # distributed rewrite may have consumed the lease
            self.commit_staged(edir, op="compact")
            return [(t, d) for t, d, _ in todo]

    def expire(self, keep: "set[str] | None" = None,
               before: str | None = None,
               tables: "list[str] | None" = None,
               lock_timeout: float = 120.0) -> list[str]:
        """Partition retention as PURE METADATA: commit a version whose
        manifest simply omits the expired days (from ``tables``, or all
        sub-tables). Day keys compare lexicographically (ISO dates);
        ``keep`` pins an explicit allowlist instead. Bytes are
        reclaimed by the next ``vacuum``; any pinned historical version
        still reads the expired days until then.

        ``before=`` is ONLY valid over day-keyed sub-tables: the
        lexicographic compare is correct for zero-padded ISO day keys
        but wrong for the unpadded stringified-int keys the
        bucket/cell-keyed stores (near-dup ledger, IVF postings) use
        ('10' < '2'). Guarded below — every key under comparison and
        the bound itself must be ISO-day-shaped or this raises;
        bucket-keyed tables expire with ``keep=`` (explicit
        allowlist). The one exception is ``NULL_DAY``, the day of
        NULL-timestamp rows in day-keyed tables: it has no date, so
        ``before=`` keeps it and does not raise on it (``keep=`` can
        still drop it)."""
        if (keep is None) == (before is None):
            raise ValueError("expire needs exactly one of keep= or before=")
        with TableLock(self.root, owner="snapshot_expire",
                       timeout=lock_timeout, adapter=self._store):
            self.recover()
            m = self.manifest()
            sel = tables or list(m["tables"])
            days: set[str] = set()
            for t in sel:
                days.update(m["tables"].get(t, {}))
            if keep is not None:
                drop = sorted(days - set(keep))
            else:
                import re

                days.discard(NULL_DAY)  # dateless: never expired by date
                bad = [d for d in {before, *days}
                       if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", str(d))]
                if bad:
                    raise SnapshotError(
                        f"expire(before=) needs ISO day keys; found "
                        f"non-day key(s) {sorted(bad)[:5]} in {self.root} "
                        "— lexicographic order is wrong for numeric "
                        "bucket keys; use keep= for bucket-keyed tables"
                    )
                drop = sorted(d for d in days if d < before)
            if drop:
                self.commit_staged(None, op="expire", drop_days=drop,
                                   drop_tables=sel)
            return drop

    def vacuum(self, keep_last: int = 2,
               lock_timeout: float = 120.0) -> list[str]:
        """Delete data dirs referenced by NO retained manifest and the
        manifests older than the newest ``keep_last`` (current always
        retained). Defines the reader contract: a pinned snapshot stays
        readable for at least ``keep_last - 1`` subsequent commits —
        size it to the longest-running scan."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        with TableLock(self.root, owner="snapshot_vacuum",
                       timeout=lock_timeout, adapter=self._store):
            self.recover()
            cur = self.current_version()
            lo = max(0, cur - keep_last + 1)
            referenced: set[str] = set()
            for v in range(lo, cur + 1):
                try:
                    m = self.manifest(v)
                except SnapshotVacuumedError:
                    continue
                for parts in m["tables"].values():
                    for rels in parts.values():
                        referenced.update(self._as_list(rels))
            removed: list[str] = []
            droot = os.path.join(self.root, self.DATA_DIR)
            for vdir in sorted(os.listdir(droot)):
                vfull = os.path.join(droot, vdir)
                if not os.path.isdir(vfull):
                    continue
                for table in sorted(os.listdir(vfull)):
                    tfull = os.path.join(vfull, table)
                    if table.startswith("_"):
                        continue
                    if not os.path.isdir(tfull):
                        continue
                    for part in sorted(os.listdir(tfull)):
                        if not part.startswith(STAGE_PART_PREFIX):
                            # Spark write markers (_SUCCESS) ride along
                            # in the table dir; they are not partitions
                            # (round-10 review find: rmtree on a FILE
                            # silently no-ops, the marker kept the dir
                            # non-empty forever, and `removed` reported
                            # a reclaim that never happened)
                            continue
                        rel = os.path.join(self.DATA_DIR, vdir, table, part)
                        if rel not in referenced:
                            shutil.rmtree(os.path.join(tfull, part),
                                          ignore_errors=True)
                            removed.append(rel)
                    if not any(
                        x.startswith(STAGE_PART_PREFIX)
                        for x in os.listdir(tfull)
                    ):
                        shutil.rmtree(tfull, ignore_errors=True)
                # drop now-empty version dirs (markers only)
                if not any(
                    not x.startswith("_") for x in os.listdir(vfull)
                ):
                    shutil.rmtree(vfull, ignore_errors=True)
            mroot = os.path.join(self.root, self.MANIFEST_DIR)
            # adapter-backed listing: on an object store the manifests
            # live only in the store, so an os.listdir sweep would
            # silently retain every manifest forever
            for mf in self._store.list_prefix(mroot):
                if mf.endswith(".tmp"):
                    # crash leftover from an interrupted atomic write
                    # (pid+random-suffixed temp): every metadata WRITER
                    # holds this same lease, so any .tmp seen here is
                    # orphaned, and without this sweep it would sit in
                    # the listing forever (ADVICE r11)
                    self._store.delete(os.path.join(mroot, mf))
                    continue
                if not (mf.startswith("v") and mf.endswith(".json")):
                    continue
                v = int(mf[1:-5])
                if v < lo:
                    self._store.delete(os.path.join(mroot, mf))
            # root-level atomic-write orphans (_VERSION temps — review
            # find: the manifest sweep alone left these forever): every
            # writer of _VERSION holds THIS lease, so any _VERSION .tmp
            # seen here is a crash leftover. _LOCK temps are EXCLUDED
            # (ADVICE r12): an expired-lease takeover writes _LOCK via
            # put_atomic WITHOUT holding this lease, so sweeping its
            # temp between creation and os.replace would make the
            # breaker's rename fail — the lease invariant covers
            # _VERSION writers only, not _LOCK itself. A crashed
            # breaker's orphaned _LOCK temp is a few-hundred-byte
            # residue the next takeover's unique temp name ignores.
            for rf in self._store.list_prefix(self.root):
                if rf.endswith(".tmp") and not rf.startswith(
                        TableLock.LOCK_NAME + "."):
                    self._store.delete(os.path.join(self.root, rf))
            # retired manifests must not be served from this instance's
            # cache either — their data dirs may be gone
            for v in [v for v in self._manifest_cache if v < lo]:
                del self._manifest_cache[v]
            return removed
