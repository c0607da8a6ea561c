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
a version and everything that qualifies it (live layers, folded layer
keys, applied delete keys, the CDC batch record) travel in the same
document. A
reader that parses the same pointer twice can pair two commits.

**Immutable keyed layers.** Keyed layers (an ingest slice, a delete
batch) are never overwritten or renamed: every write lands in a fresh
``<key>.<seq>`` dir, named with a store-wide sequence number, and the
pointer flip that names it is its commit. A redelivered key gets a new
dir and the flip replaces the key's entry; the displaced dir is
tombstoned after the flip, so a reader that resolved it keeps reading
it. Recovery needs only the sequence numbers: a dir above the
pointer's ``seq`` was never published and is deleted.

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
store describes its dirs and manifest keys in one `LsmStore` constant;
the shape itself is implemented once, here. The pointer names
everything live: the base version, the live append and delete layers
in append order, and both applied-key manifests. `read_view` is the
lockless reader: ONE pointer parse is the whole view, with no listing
and no marker probe, so any motion committing mid-read is seen wholly
or not at all. `recover` opens every write path under the lock: refuse
retired entries, commit a complete pointer-less ``*_v0`` or reconcile
versions, reconcile layer dirs by sequence number, collect aged dirs.
`put_layer` is the one keyed-layer motion (appends and deletes of both
stores). A fold is `fold_view`, the store's Spark writes, then
`fold_commit`: one `flip` to the new base with the layers' keys moved
into the manifests. `flip` is the only retirement of a live dir (the
tombstones follow the pointer write), and `write_pointer`, which takes
the whole pointer record, is the only writer of these pointers.

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

def write_atomic(path: str, write, mode: str = "w") -> None:
    """Write ``path`` durably through ``write(f)``: temp file, fsync,
    rename, directory fsync. A reader or a crash recovery sees the old
    content, the new content, or nothing, never a truncated file."""
    tmp = path + ".tmp"
    with open(tmp, mode) as f:
        write(f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    dfd = os.open(os.path.dirname(path), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def write_json_atomic(path: str, obj) -> None:
    """`write_atomic` of a JSON document."""
    write_atomic(path, lambda f: json.dump(obj, f))


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


def _retired(store_dir: str, name: str) -> LegacyFormatError:
    return LegacyFormatError(
        f"{store_dir} holds {name!r}, an entry of a retired on-disk "
        "format that this code does not read: delete it and rebuild"
    )


def refuse_legacy(store_dir: str, entries, legacy: tuple[str, ...]) -> None:
    """Raise `LegacyFormatError` if a name in ``entries`` (a listing of
    ``store_dir``) matches one of the store's ``legacy`` patterns
    (`fnmatch` syntax). Never modifies the dir."""
    for name in sorted(entries):
        if any(fnmatch.fnmatchcase(name, pat) for pat in legacy):
            raise _retired(store_dir, name)


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

def reconcile_versions(versions, current: int, live=None,
                       data: bool = True) -> None:
    """Crash reconciliation of ``(n, path)`` dirs against the committed
    ``current``: above it is an unpublished write (delete); at or below
    it, not in ``live`` (default: ``current`` alone) and untombstoned is
    a displaced dir whose tombstone was lost (tombstone, so it enters
    its grace window)."""
    live = {current} if live is None else live
    for n, path in versions:
        if n > current:
            shutil.rmtree(path, ignore_errors=True)
        elif n not in live and not tombstoned(path, data):
            tombstone(path, data)


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

def union_layer_ids(spark, layers: list[str]):
    """The distinct union of every layer's ``ids`` parquet, or None."""
    out = None
    for d in layers:
        ids = spark.read.parquet(os.path.join(d, "ids"))
        out = ids if out is None else out.unionByName(ids)
    return None if out is None else out.distinct()


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


# -- LSM stores -------------------------------------------------------------

#: The on-disk format of the LSM stores. Bump it with any change after
#: which `read_view` or `recover` refuses a store of the old shape: the
#: registry queries that keep a store as a cache put it in their dir
#: name (``queries/llm_dedup.py``), so they build fresh ones.
LSM_FORMAT = 2


class Layers(NamedTuple):
    """One keyed layer family: immutable ``<root>/<key>.<seq>`` dirs, one
    per write, named live in the pointer as ``{key: seq}`` in append
    order (``app_layers``, ``del_layers``); and the pointer key of the
    manifest listing the keys a fold has applied."""

    root: str
    manifest: str


class LsmStore(NamedTuple):
    """What an LSM store is on disk: its ``pointer`` file, its base
    ``{kind}_v{N}`` dir kinds, its append and delete layer families and
    its `refuse_legacy` patterns."""

    pointer: str
    base: tuple[str, ...]
    append: Layers
    delete: Layers
    legacy: tuple[str, ...]


def _layer_dirs(store_dir: str, layers: Layers, live: dict) -> list[str]:
    return [os.path.join(store_dir, layers.root, f"{key}.{seq}")
            for key, seq in live.items()]


class LsmView(NamedTuple):
    """A store as of one pointer parse: the pointer record (``version``,
    the last layer sequence number ``seq``, the live layers of each
    family and both applied manifests) and the dir it lives in.
    ``version`` is None for a store with no committed snapshot."""

    spec: LsmStore
    store_dir: str
    version: int | None
    seq: int
    app_layers: dict[str, int]
    del_layers: dict[str, int]
    folded: list[str]
    del_folded: list[str]

    @property
    def base(self) -> dict[str, str]:
        if self.version is None:
            return {}
        return base_dirs(self.spec, self.store_dir, self.version)

    @property
    def appends(self) -> list[str]:
        return _layer_dirs(self.store_dir, self.spec.append, self.app_layers)

    @property
    def deletes(self) -> list[str]:
        return _layer_dirs(self.store_dir, self.spec.delete, self.del_layers)

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
    """The lockless read view: ONE pointer parse names the version, its
    base dirs, every live layer and both manifests; nothing is listed or
    probed. Raises FileNotFoundError on a store with no pointer unless
    ``missing_ok``, and `LegacyFormatError` on a pointer of the retired
    format that named no layers (it has no ``seq``)."""
    ptr = load_pointer(os.path.join(store_dir, spec.pointer))
    if ptr is None:
        if not missing_ok:
            raise FileNotFoundError(
                f"{store_dir} has no committed snapshot (no {spec.pointer}): "
                "build it first"
            )
        return LsmView(spec, store_dir, None, 0, {}, {}, [], [])
    if not isinstance(ptr.get("seq"), int):
        raise _retired(store_dir, spec.pointer)
    return LsmView(
        spec, store_dir, ptr["version"], ptr["seq"],
        ptr["app_layers"], ptr["del_layers"],
        ptr[spec.append.manifest], ptr[spec.delete.manifest],
    )


def write_pointer(view: LsmView) -> None:
    """THE commit of an LSM store: the whole pointer record ``view`` in
    one atomic document. Callers change a view with ``_replace``, so no
    motion can drop a field it does not touch."""
    spec = view.spec
    write_json_atomic(os.path.join(view.store_dir, spec.pointer), {
        "version": view.version,
        "seq": view.seq,
        "app_layers": view.app_layers,
        "del_layers": view.del_layers,
        spec.append.manifest: view.folded,
        spec.delete.manifest: view.del_folded,
    })


def flip(old: LsmView, new: LsmView) -> None:
    """Commit ``new`` over ``old`` (caller holds the writer lock): write
    the pointer, then tombstone every layer and base dir ``old`` names
    and ``new`` does not. This is the only retirement of a live dir."""
    write_pointer(new)
    for path in set(old.appends + old.deletes) - set(new.appends + new.deletes):
        tombstone(path)
    for path in set(old.base.values()) - set(new.base.values()):
        if os.path.isdir(path):
            tombstone(path, data=True)


def _version_dirs(spec: LsmStore, store_dir: str, entries):
    out = []
    for name in entries:
        kind, _, n = name.rpartition("_v")
        if kind in spec.base and n.isdigit():
            out.append((int(n), os.path.join(store_dir, name)))
    return out


def _seq_dirs(root: str):
    out = []
    for name in os.listdir(root):
        n = name.rpartition(".")[2]
        out.append((int(n) if n.isdigit() else -1, os.path.join(root, name)))
    return out


def recover(spec: LsmStore, store_dir: str) -> None:
    """Write-path reconciliation, at the top of every motion under the
    writer lock: raise `LegacyFormatError` on a retired entry or pointer
    before touching anything; then either give a COMPLETE pointer-less
    ``*_v0`` base (a build that crashed before its pointer write) the
    pointer it was about to receive and delete an incomplete one, or
    `reconcile_versions` against the pointer; reconcile each layer
    family's dirs by sequence number the same way (above the pointer's
    ``seq``: never published, deleted; at or below it and not named:
    tombstoned); finally `collect`."""
    entries = os.listdir(store_dir)
    refuse_legacy(store_dir, entries, spec.legacy)
    view = read_view(spec, store_dir, missing_ok=True)
    if view.version is not None:
        reconcile_versions(_version_dirs(spec, store_dir, entries),
                           view.version)
    else:
        v0 = base_dirs(spec, store_dir, 0).values()
        if all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in v0):
            write_pointer(view._replace(version=0))
        else:
            for d in v0:
                shutil.rmtree(d, ignore_errors=True)
    for layers, live in ((spec.append, view.app_layers),
                         (spec.delete, view.del_layers)):
        root = os.path.join(store_dir, layers.root)
        if os.path.isdir(root):
            reconcile_versions(_seq_dirs(root), view.seq,
                               set(live.values()), data=False)
    collect(spec, store_dir)


def collect(spec: LsmStore, store_dir: str) -> None:
    """Phase 2 over the store: delete tombstoned base versions and
    layers older than `store_grace`. Caller holds the writer lock."""
    grace = store_grace()
    for _n, path in _version_dirs(spec, store_dir, os.listdir(store_dir)):
        collect_if_aged(path, grace, data=True)
    for layers in (spec.append, spec.delete):
        collect_layers(os.path.join(store_dir, layers.root), grace)


#: The `LsmView` fields of each layer family: its live layers and its
#: applied-key manifest.
_FAMILY = {"append": ("app_layers", "folded"),
           "delete": ("del_layers", "del_folded")}


def put_layer(spec: LsmStore, store_dir: str, family: str, key: str,
              write) -> None:
    """The keyed-layer motion on a built store, ``family`` being
    ``"append"`` or ``"delete"``: under the writer lock and after
    `recover`, skip a key the family's manifest already holds (a replay
    of a folded key), else ``write(dir)`` a fresh
    ``<root>/<key>.<seq>`` dir and `flip` the pointer to name it,
    replacing the key's entry on a redelivery."""
    field, applied = _FAMILY[family]
    with store_lock(store_dir):
        recover(spec, store_dir)
        view = read_view(spec, store_dir)
        if key in getattr(view, applied):
            return
        seq = view.seq + 1
        write(os.path.join(store_dir, getattr(spec, family).root,
                           f"{key}.{seq}"))
        live = {k: s for k, s in getattr(view, field).items() if k != key}
        flip(view, view._replace(seq=seq, **{field: {**live, key: seq}}))


def fold_view(spec: LsmStore, store_dir: str) -> LsmView | None:
    """The view a compaction folds (caller holds the writer lock, after
    `recover`), or None when no layer is live."""
    view = read_view(spec, store_dir, missing_ok=True)
    return view if view.app_layers or view.del_layers else None


def fold_commit(view: LsmView) -> None:
    """Commit a compaction of ``view`` whose ``version + 1`` base dirs
    are written: one `flip` to the new base with no live layer and both
    manifests extended by the folded keys in append order."""
    flip(view, view._replace(
        version=view.version + 1, app_layers={}, del_layers={},
        folded=view.folded + list(view.app_layers),
        del_folded=view.del_folded + list(view.del_layers),
    ))
