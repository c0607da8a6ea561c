"""The commit protocol every persisted store in the package shares.

The MinHash signature store (``operators/dedup.py``), the IVF-PQ coded
corpus (``operators/similarity.py``), the bucketed table layout
(``operators/layout.py`` and its builders in ``queries/advanced.py``)
and the CAIM histogram store (``operators/caim/estimator.py``) all
commit the same way. This module is the only implementation of that
protocol; the stores keep only what is theirs: which dirs exist, which
manifest keys their pointer carries, and what Spark writes.

**The pointer is the commit point.** Mutable state lives in IMMUTABLE
version dirs (``sets_v{N}``, ``codes_v{N}``, ``{rel}_v{N}``,
``hist_v{N}``). A motion writes version N+1 beside the live one, then
rewrites one small JSON pointer document (``current.json``,
``codes_current.json``, ``{rel}_current.json``, ``hist_current.json``,
``slug_commit.json``) with `write_json_atomic`: temp file, fsync,
rename, directory fsync. A reader parses the pointer ONCE
(`load_pointer`) and gets the old snapshot or the new one, never a mix:
a version and the manifests that qualify it (folded layer keys, applied
delete keys, the CDC batch record) travel in the same document. A
reader that parses the same pointer twice can pair two commits.

**Write-aside layer swap.** Keyed layers (an ingest slice, a delete
batch) are never overwritten in place: `swap_layer` writes the fresh
content to ``<key>.next``, renames a live ``<key>`` aside to
``<key>.old-<ms>`` with a tombstone, then renames ``.next`` into place.
A crash anywhere in that sequence is healed by `recover_layers` from the
on-disk shapes alone: a complete orphaned ``.next`` rolls forward, any
other ``.next`` is an uncommitted write and is deleted, and an ``.old-``
that missed its tombstone gets one.

**Two-phase GC.** Nothing a lockless reader may have resolved is deleted
at commit time. Phase 1 tombstones the displaced dir in place; phase 2
(`collect_if_aged`, on a later write pass under the writer lock) deletes
it once the tombstone is older than the grace period, so every path a
reader resolved stays on disk for that long. A reader stalled past the
grace period is the residual; `store_grace` and `layout_grace` read the
two knobs. Crash reconciliation (`reconcile_versions`) needs no journal:
a version dir above the pointer was never published and is deleted; one
below it that missed its tombstone is tombstoned, never deleted, since
a reader may have resolved it while it was current.

**Two tombstone names.** A version dir is itself a parquet data dir, so
its tombstone is underscore-prefixed (``_superseded.json``): Spark's
scan skips ``_``-files, and a stale reader of that very dir never sees
the marker as data. Layer dirs and layout slugs hold data dirs one level
down, so their tombstone is the plain ``superseded.json`` beside them.
Pass ``data=True`` for the first kind.

**Link assembly.** A version built from another dir's files (a layout
MERGE reuses untouched buckets) hard-links them (`link_files`, falling
back to a copy across filesystems) and never renames live files, so a
reader of the source keeps scanning intact inodes.

**Retired formats.** The pre-pointer layouts (unversioned base dirs,
commit journals, sidecar manifests, marker files) are not read, healed
or migrated. A write path's recovery step lists its dir under the writer
lock and `refuse_legacy` raises `LegacyFormatError` on such an entry,
without touching the dir: every store is a rebuildable cache.

**LSM stores.** The signature store and the IVF-PQ codes have one
shape: a pointed base version, keyed append layers, keyed delete layers
and a fold (compaction) that applies the layers to a new base. Each
store describes its dirs and pointer keys in one `LsmStore` constant;
the shape itself is implemented once, here. `read_view` is the
lockless reader: ONE pointer parse gives the version, the base dirs and
both manifests, then the live append layers the pointer has not folded
and the live delete layers are listed, so a fold committing mid-read is
seen wholly or not at all. `recover` opens every write path under the
lock: refuse retired entries, heal swaps, re-lay the folded layers'
tombstones, commit a complete pointer-less ``*_v0`` or reconcile
versions, collect aged dirs. `put_layer` is the one keyed-layer motion
(appends and deletes of both stores). `fold_view` and `fold_commit`
bracket a fold's Spark writes: the pointer flip with both manifests
folded, then tombstones on the applied layers and the displaced base.
`write_pointer` is the only writer of these pointers.

**Locks.** Writers serialize on an exclusive ``flock`` (`FileLock`);
readers take none. Acquisition re-checks the lock file's inode, so a
waiter blocked on a file that was unlinked (a collected slug's lock)
retries on the fresh path instead of owning an invisible lock. flock is
host-local: writers on different hosts are NOT serialized. On an object
store the pointer rewrite is a table-format snapshot commit, hard links
are manifest entries, and the catalog provides the lock.
"""

from __future__ import annotations

import fnmatch
import json
import os
import shutil
import time
from typing import NamedTuple

_LAYER_TOMB = "superseded.json"
_DATA_TOMB = "_superseded.json"


# -- durable files ----------------------------------------------------------

def stage_file(path: str, write, mode: str = "w") -> str:
    """Write ``path + ".tmp"`` through ``write(f)`` and fsync it; return
    the temp path. `publish_file` renames it into place. Split in two so
    a sidecar can be staged before a pointer flip and published after."""
    tmp = path + ".tmp"
    with open(tmp, mode) as f:
        write(f)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def publish_file(tmp: str, path: str) -> None:
    """Rename a staged file into place and fsync the directory entry."""
    os.rename(tmp, path)
    dfd = os.open(os.path.dirname(path), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def write_json_atomic(path: str, obj) -> None:
    """Write JSON durably: a reader or a crash recovery sees the old
    content, the new content, or nothing, never a truncated file."""
    publish_file(stage_file(path, lambda f: json.dump(obj, f)), path)


def load_pointer(path: str, key: str = "version", kind=int) -> dict | None:
    """Parse one pointer document; None when it is absent, unparseable
    or its ``key`` is not a ``kind``. Pointers are written only through
    `write_json_atomic`, so an unparseable one predates atomic writes
    and counts as absent."""
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            doc = json.load(f)
        return doc if isinstance(doc.get(key), kind) else None
    except (OSError, ValueError, AttributeError):
        return None


# -- retired formats -------------------------------------------------------

class LegacyFormatError(RuntimeError):
    """A store dir holds an entry of an on-disk format this code no
    longer reads."""


def refuse_legacy(store_dir: str, entries, legacy: tuple[str, ...]) -> None:
    """Raise `LegacyFormatError` if a name in ``entries`` (a listing of
    ``store_dir``) matches one of the store's ``legacy`` patterns
    (`fnmatch` syntax). Never modifies the dir."""
    for name in sorted(entries):
        if any(fnmatch.fnmatchcase(name, pat) for pat in legacy):
            raise LegacyFormatError(
                f"{store_dir} holds {name!r}, an entry of a retired "
                "pre-pointer on-disk format that this code does not "
                "read: delete it and rebuild"
            )


# -- writer lock ------------------------------------------------------------

class FileLock:
    """Exclusive advisory ``flock`` on ``path``. With ``blocking=False``
    the acquire is a try-lock: ``acquired`` is False when another writer
    holds it, and the caller must skip its work."""

    def __init__(self, path: str, blocking: bool = True):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self._path = path
        self._blocking = blocking
        self._f = None
        self.acquired = False

    def __enter__(self):
        import fcntl

        flags = fcntl.LOCK_EX | (0 if self._blocking else fcntl.LOCK_NB)
        while True:
            self._f = open(self._path, "a")
            try:
                fcntl.flock(self._f, flags)
            except BlockingIOError:
                self._f.close()
                self._f = None
                return self
            try:
                same = os.stat(self._path).st_ino == os.fstat(
                    self._f.fileno()
                ).st_ino
            except FileNotFoundError:
                same = False
            if same:
                self.acquired = True
                return self
            # Unlinked while we waited: no newcomer can see this inode.
            fcntl.flock(self._f, fcntl.LOCK_UN)
            self._f.close()
            self._f = None

    def __exit__(self, *exc):
        import fcntl

        if self._f is not None:
            fcntl.flock(self._f, fcntl.LOCK_UN)
            self._f.close()
            self._f = None
        self.acquired = False
        return False


def store_lock(store_dir: str) -> FileLock:
    """The store-wide writer lock, ``<store_dir>/store.lock``."""
    return FileLock(os.path.join(store_dir, "store.lock"))


# -- tombstones and grace ---------------------------------------------------

def _tomb(path: str, data: bool) -> str:
    return os.path.join(path, _DATA_TOMB if data else _LAYER_TOMB)


def tombstone(path: str, data: bool = False) -> None:
    """Phase 1: mark ``path`` for collection after the grace period."""
    write_json_atomic(_tomb(path, data), {"ts": time.time()})


def tombstoned(path: str, data: bool = False) -> bool:
    return os.path.exists(_tomb(path, data))


def clear_tombstone(path: str, data: bool = False) -> None:
    """Resurrect ``path``: a writer is serving it again."""
    if tombstoned(path, data):
        os.remove(_tomb(path, data))


def tombstone_age(path: str, data: bool = False) -> float | None:
    """Seconds since ``path`` was tombstoned; None when it carries no
    tombstone or an unreadable one (left for a later pass, never
    guessed at)."""
    try:
        with open(_tomb(path, data)) as f:
            now = time.time()
            return now - float(json.load(f).get("ts", now))
    except (OSError, ValueError, TypeError, AttributeError):
        return None


def store_grace() -> float:
    """Seconds a tombstoned store dir survives for lockless readers."""
    return float(os.environ.get("PYCAIM_STORE_GC_GRACE", "900"))


def layout_grace() -> float:
    """Seconds a tombstoned layout version or slug survives."""
    return float(os.environ.get("PYCAIM_LAYOUT_GC_GRACE", "900"))


def collect_if_aged(path: str, grace: float, data: bool = False) -> bool:
    """Phase 2: delete ``path`` if its tombstone is older than
    ``grace``. Returns whether it was deleted."""
    age = tombstone_age(path, data)
    if age is not None and age > grace:
        shutil.rmtree(path, ignore_errors=True)
        return True
    return False


# -- versions ---------------------------------------------------------------

def reconcile_versions(versions, current: int) -> None:
    """Crash reconciliation of ``(n, path)`` version dirs against the
    committed ``current``: above it is an unpublished write (delete);
    below it and untombstoned is a displaced version whose tombstone was
    lost (tombstone, so it enters its grace window)."""
    for n, path in versions:
        if n > current:
            shutil.rmtree(path, ignore_errors=True)
        elif n < current and not tombstoned(path, data=True):
            tombstone(path, data=True)


def link_files(src: str, dst: str, skip=None) -> None:
    """Hard-link every regular file of ``src`` into ``dst`` (a copy when
    the link fails), except tombstones, staged ``.tmp`` files and names
    ``skip(name)`` rejects: a new version never inherits its source's
    retirement."""
    for fn in os.listdir(src):
        full = os.path.join(src, fn)
        if (
            not os.path.isfile(full)
            or fn in (_LAYER_TOMB, _DATA_TOMB)
            or fn.endswith(".tmp")
            or (skip is not None and skip(fn))
        ):
            continue
        try:
            os.link(full, os.path.join(dst, fn))
        except OSError:
            shutil.copy2(full, os.path.join(dst, fn))


# -- keyed layers -----------------------------------------------------------

def live_layers(root: str, marker: str) -> list[str]:
    """Live layers under ``root``: complete (``<key>/<marker>/_SUCCESS``),
    untombstoned, and not swap scaffolding (``.next``/``.old-``), even
    when a crash left scaffolding complete-looking."""
    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, k)
        for k in os.listdir(root)
        if not k.endswith(".next")
        and ".old-" not in k
        and os.path.exists(os.path.join(root, k, marker, "_SUCCESS"))
        and not tombstoned(os.path.join(root, k))
    )


def union_layer_ids(spark, layers: list[str]):
    """The distinct union of every layer's ``ids`` parquet, or None."""
    out = None
    for d in layers:
        ids = spark.read.parquet(os.path.join(d, "ids"))
        out = ids if out is None else out.unionByName(ids)
    return None if out is None else out.distinct()


def swap_layer(layer: str, write) -> None:
    """Write-aside replace of one keyed layer: ``write(fresh)`` fills
    ``<layer>.next``; a live ``<layer>`` is renamed to
    ``<layer>.old-<ms>`` and tombstoned; then ``.next`` is renamed in.
    A fresh dir carries no tombstone, so this also resurrects a key
    whose old layer was retired. Caller holds the writer lock."""
    fresh = layer + ".next"
    shutil.rmtree(fresh, ignore_errors=True)
    write(fresh)
    if os.path.exists(layer):
        old = f"{layer}.old-{int(time.time() * 1000)}"
        os.rename(layer, old)
        tombstone(old)
    os.rename(fresh, layer)


def recover_layers(root: str, marker: str, folded=()) -> None:
    """Heal crashed `swap_layer` calls under ``root`` and re-lay lost
    tombstones: on ``.old-`` dirs, and on layers whose key the pointer
    lists in ``folded``. Caller holds the writer lock."""
    if not os.path.isdir(root):
        return
    for k in os.listdir(root):
        d = os.path.join(root, k)
        if k.endswith(".next"):
            layer = d[: -len(".next")]
            if not os.path.exists(layer) and os.path.exists(
                os.path.join(d, marker, "_SUCCESS")
            ):
                os.rename(d, layer)
            else:
                shutil.rmtree(d, ignore_errors=True)
        elif (".old-" in k or k in folded) and not tombstoned(d):
            tombstone(d)


def tombstone_layers(root: str, keys=None) -> None:
    """Tombstone the named layer dirs under ``root`` (every dir when
    ``keys`` is None) that are not tombstoned yet."""
    if not os.path.isdir(root):
        return
    for k in os.listdir(root):
        d = os.path.join(root, k)
        if (keys is None or k in keys) and os.path.isdir(d) \
                and not tombstoned(d):
            tombstone(d)


def collect_layers(root: str, grace: float) -> None:
    """Phase 2 over ``root``'s layers, then drop ``root`` itself once it
    is empty, so "no layer dir" stays the quiesced steady state."""
    if not os.path.isdir(root):
        return
    for k in os.listdir(root):
        collect_if_aged(os.path.join(root, k), grace)
    try:
        if not os.listdir(root):
            os.rmdir(root)
    except OSError:
        pass


def fold_manifest(prior: list[str], layers: list[str]) -> list[str]:
    """``prior`` plus the keys of ``layers`` in FOLD order: append time
    (dir mtime), name as the tiebreak. Keys do not sort chronologically
    ('day10' < 'day2'), and manifest trimming keeps the newest end."""
    keys = [
        os.path.basename(p)
        for p in sorted(layers, key=lambda p: (os.path.getmtime(p), p))
    ]
    return prior + [k for k in keys if k not in prior]


# -- LSM stores -------------------------------------------------------------

class Layers(NamedTuple):
    """One keyed layer family: ``<root>/<key>/<marker>/`` dirs, and the
    pointer key of the manifest listing the keys a fold has applied.
    ``keep_empty`` writes that key even when its list is empty."""

    root: str
    marker: str
    manifest: str
    keep_empty: bool = False

    def live(self, store_dir: str) -> list[str]:
        return live_layers(os.path.join(store_dir, self.root), self.marker)


class LsmStore(NamedTuple):
    """What an LSM store is on disk: its ``pointer`` file, its base
    ``{kind}_v{N}`` dir kinds, its append and delete layer families, the
    pointer's manifest keys in on-disk ``order`` and its `refuse_legacy`
    patterns."""

    pointer: str
    base: tuple[str, ...]
    append: Layers
    delete: Layers
    order: tuple[str, str]
    legacy: tuple[str, ...]


class LsmView(NamedTuple):
    """A store as of one pointer parse. ``version`` is None for a store
    with no committed snapshot, whose ``base`` is then empty."""

    version: int | None
    base: dict[str, str]
    appends: list[str]
    deletes: list[str]
    folded: list[str]
    del_folded: list[str]

    def frame(self, spark, kind: str):
        """The base ``kind`` dir unioned with every append layer's."""
        out = spark.read.parquet(self.base[kind])
        for layer in self.appends:
            out = out.unionByName(spark.read.parquet(os.path.join(layer, kind)))
        return out

    def pending(self, spark, sub: str):
        """The union of the append layers' ``sub`` dirs, or None."""
        out = None
        for layer in self.appends:
            df = spark.read.parquet(os.path.join(layer, sub))
            out = df if out is None else out.unionByName(df)
        return out

    def deleted_ids(self, spark):
        return union_layer_ids(spark, self.deletes)


def base_dirs(spec: LsmStore, store_dir: str, version: int) -> dict[str, str]:
    return {k: os.path.join(store_dir, f"{k}_v{version}") for k in spec.base}


def read_view(spec: LsmStore, store_dir: str,
              missing_ok: bool = False) -> LsmView:
    """The lockless read view: the pointed version, its base dirs and
    both manifests from ONE pointer parse, then the live append layers
    the pointer has not folded and the live delete layers. Raises
    FileNotFoundError on a store with no pointer unless ``missing_ok``."""
    ptr = load_pointer(os.path.join(store_dir, spec.pointer))
    if ptr is None and not missing_ok:
        raise FileNotFoundError(
            f"{store_dir} has no committed snapshot (no {spec.pointer}): "
            "build it first"
        )
    ptr = ptr or {}
    version = ptr.get("version")
    folded = list(ptr.get(spec.append.manifest, ()))
    return LsmView(
        version,
        {} if version is None else base_dirs(spec, store_dir, version),
        [d for d in spec.append.live(store_dir)
         if os.path.basename(d) not in folded],
        spec.delete.live(store_dir),
        folded,
        list(ptr.get(spec.delete.manifest, ())),
    )


def write_pointer(spec: LsmStore, store_dir: str, version: int,
                  folded=(), del_folded=()) -> None:
    """THE commit of an LSM store: the version and both manifests in one
    atomic document, keys in the store's on-disk order, an empty
    manifest omitted unless its family sets ``keep_empty``."""
    doc = {"version": version}
    lists = {spec.append.manifest: (spec.append, folded),
             spec.delete.manifest: (spec.delete, del_folded)}
    for key in spec.order:
        layers, keys = lists[key]
        if keys or layers.keep_empty:
            doc[key] = list(keys)
    write_json_atomic(os.path.join(store_dir, spec.pointer), doc)


def _version_dirs(spec: LsmStore, store_dir: str, entries):
    out = []
    for name in entries:
        kind, _, n = name.rpartition("_v")
        if kind in spec.base and n.isdigit():
            out.append((int(n), os.path.join(store_dir, name)))
    return out


def recover(spec: LsmStore, store_dir: str) -> None:
    """Write-path reconciliation, at the top of every motion under the
    writer lock: raise `LegacyFormatError` on a retired entry before
    touching anything, heal crashed layer swaps and re-lay the
    tombstones of layers the pointer has folded, then either give a
    COMPLETE pointer-less ``*_v0`` base (a build that crashed before its
    pointer write) the pointer it was about to receive and delete an
    incomplete one, or `reconcile_versions` against the pointer;
    finally `collect`."""
    entries = os.listdir(store_dir)
    refuse_legacy(store_dir, entries, spec.legacy)
    ptr = load_pointer(os.path.join(store_dir, spec.pointer))
    for layers in (spec.append, spec.delete):
        recover_layers(os.path.join(store_dir, layers.root), layers.marker,
                       set((ptr or {}).get(layers.manifest, ())))
    if ptr is not None:
        reconcile_versions(_version_dirs(spec, store_dir, entries),
                           ptr["version"])
    else:
        v0 = base_dirs(spec, store_dir, 0).values()
        if all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in v0):
            write_pointer(spec, store_dir, 0)
        else:
            for d in v0:
                shutil.rmtree(d, ignore_errors=True)
    collect(spec, store_dir)


def collect(spec: LsmStore, store_dir: str) -> None:
    """Phase 2 over the store: delete tombstoned base versions and
    layers older than `store_grace`. Caller holds the writer lock."""
    grace = store_grace()
    for _n, path in _version_dirs(spec, store_dir, os.listdir(store_dir)):
        collect_if_aged(path, grace, data=True)
    for layers in (spec.append, spec.delete):
        collect_layers(os.path.join(store_dir, layers.root), grace)


def put_layer(spec: LsmStore, store_dir: str, layers: Layers, key: str,
              write) -> None:
    """The keyed-layer motion (an append or a delete): under the writer
    lock and after `recover`, skip a key the pointer's manifest already
    holds (a replay of a folded key), else `swap_layer` ``write``'s
    content in as ``<root>/<key>``."""
    with store_lock(store_dir):
        recover(spec, store_dir)
        ptr = load_pointer(os.path.join(store_dir, spec.pointer)) or {}
        if key in ptr.get(layers.manifest, ()):
            return
        swap_layer(os.path.join(store_dir, layers.root, key), write)


def fold_view(spec: LsmStore, store_dir: str) -> LsmView | None:
    """The view a compaction folds (caller holds the writer lock, after
    `recover`): None when no layer is pending; raises when layers are
    pending but no base is committed to fold them into."""
    view = read_view(spec, store_dir, missing_ok=True)
    if not view.appends and not view.deletes:
        return None
    if view.version is None:
        raise RuntimeError(
            f"{store_dir} has pending layers but no committed base "
            f"({spec.pointer} missing): build the store before compacting"
        )
    return view


def fold_commit(spec: LsmStore, store_dir: str, view: LsmView) -> None:
    """Commit a compaction of ``view`` whose ``version + 1`` base dirs
    are written: flip the pointer with both manifests folded (fold
    order), then tombstone the applied layers and the displaced base."""
    write_pointer(
        spec, store_dir, view.version + 1,
        fold_manifest(view.folded, view.appends),
        fold_manifest(view.del_folded, view.deletes),
    )
    for layer in view.appends + view.deletes:
        tombstone(layer)
    for path in view.base.values():
        tombstone(path, data=True)
