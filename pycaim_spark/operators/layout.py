"""Snapshot-pointer commits for the bucketed table layout (r17).

The layout commits through the shared protocol in
``operators/commit.py`` (pointer as the commit point, tombstone plus
grace GC, writer lock, link assembly). This module keeps what is the
layout's own:

- A mutable relation ``rel`` inside a layout slug lives in immutable
  version dirs ``{rel}_v{N}`` behind ``{rel}_current.json`` =
  ``{"version": N, "dir": "{rel}_v{N}", ...}``, with the state the
  version serves (the CDC batch spec, the stream's applied-batch
  manifest, the re-bucket progress, per-file column stats) folded
  inside the pointer.
- A MERGE publishes version N+1 by hard-linking the untouched buckets'
  files from version N and moving the staged rewrites in, then flips
  the pointer; version N is never mutated.
- Displaced versions are tombstoned and collected by
  `gc_layout_versions` after ``$PYCAIM_LAYOUT_GC_GRACE``, except
  versions pinned by the pointer's ``retained`` list (time travel) or
  named by the slug-level multi-rel commit ``slug_commit.json``.
- Writers lock per slug (`slug_write_lock`), the lock file beside the
  slug in its parent dir.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

import cloudpickle as _cloudpickle

from pycaim_spark.operators import commit
from pycaim_spark.operators.merge import mv_with_crc

_VDIR_RE = re.compile(r"^(.+)_v(\d+)$")

#: Slug entries of the r16 layout formats: the CDC marker files
#: (``upsert{sfx}_orders.json`` and its pending and stream variants) and
#: the ``{rel}_old-{ms}`` undo dirs. This code reads none of them.
_LEGACY = ("upsert*_orders.json", "*_old-*")


def _slug_lock_path(slug_dir: str) -> str:
    slug_dir = os.path.abspath(slug_dir)
    return os.path.join(
        os.path.dirname(slug_dir), f".lock_{os.path.basename(slug_dir)}"
    )


def slug_write_lock(slug_dir: str, blocking: bool = True) -> commit.FileLock:
    """Exclusive writer lock on ONE layout slug (r18, VERDICT r17 #3):
    mutating motions (CDC merge, stream sink, split/coalesce, time-travel
    heal) serialize per SLUG, so CDC streams to different tables run
    concurrently. The lock FILE is ``.lock_{slug}`` in the PARENT dir,
    never inside the slug: cross-slug GC rmtree's a collected slug while
    holding this lock, and `remove_slug_lock_file` deletes the file after
    it (the lock's inode re-check makes that safe for a blocked waiter).

    ``blocking=False`` (GC's phase-2 sweep) try-acquires: ``acquired``
    is False when a live writer holds the slug, and the caller must skip
    it. Lock ORDER is root → slug (builders hold the root flock for
    cross-slug GC, then nest the slug lock; motions take only their
    slug; GC only ever TRY-locks other slugs) — no cycle is possible."""
    return commit.FileLock(_slug_lock_path(slug_dir), blocking=blocking)


def remove_slug_lock_file(slug_dir: str) -> None:
    """Delete a COLLECTED slug's lock file (caller holds that slug's
    lock and has already rmtree'd the slug dir), so regenerated corpora
    leave no orphan ``.lock_<slug>`` behind."""
    try:
        os.remove(_slug_lock_path(slug_dir))
    except OSError:
        pass


def _pointer_path(slug_dir: str, rel: str) -> str:
    return os.path.join(slug_dir, f"{rel}_current.json")


def load_layout_pointer(slug_dir: str, rel: str) -> dict | None:
    """Parse ``{rel}_current.json``; None if absent or unparseable."""
    return commit.load_pointer(_pointer_path(slug_dir, rel))


def resolve_layout_rel(slug_dir: str, rel: str) -> tuple[str, dict | None]:
    """One atomic pointer parse → (current data dir, pointer). A rel
    that was never version-published resolves to its plain dir (the
    builder's original bucketed write) with pointer None — version 0 in
    spirit; `publish_layout_version` starts at v1 from there."""
    ptr = load_layout_pointer(slug_dir, rel)
    if ptr is not None:
        return os.path.join(slug_dir, ptr["dir"]), ptr
    return os.path.join(slug_dir, rel), None


def rebucket_complete(ptr: dict | None) -> bool:
    """True when the pointer records a FINISHED re-bucket: every output
    unit ``range(min(from, to))`` of its ``rebucket`` record is in
    ``done``. A finished rel is a valid bucketed table at ``to``
    buckets; one mid-re-bucket mixes two bucket schemes and is neither
    attached bucketed nor used as a merge base."""
    rb = (ptr or {}).get("rebucket") or None
    return bool(rb) and sorted(rb.get("done", [])) == list(
        range(min(rb["from"], rb["to"]))
    )


def _stat_json(v):
    """JSON-encode one footer statistic. Timestamps/dates become ISO
    strings — fixed-format same-zone ISO-8601 compares lexicographically
    in chronological order, so the pruning comparison needs no parse."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _file_column_stats(path: str, cols) -> dict:
    """Per-column ``[min, max]`` of ONE parquet file from its FOOTER
    row-group statistics — a metadata-only read (no data pages), the
    same numbers a table format folds into its manifest at commit time.
    Columns missing from the file (pre-evolution old-schema files) or
    lacking min/max in any row group are omitted — the pruning reader
    treats absence as "may contain anything" and keeps the file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {
        md.schema.column(i).path: i for i in range(md.num_columns)
    }
    out = {}
    for c in cols:
        if c not in idx:
            continue
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if ok and mn is not None:
            out[c] = [_stat_json(mn), _stat_json(mx)]
    return out


def publish_layout_version(
    slug_dir: str,
    rel: str,
    *,
    src_dir: str | None,
    skip_names: set[str] | None = None,
    staged_files: list[str] | None = None,
    extra: dict | None = None,
    prebuilt_dir: str | None = None,
    stats_cols=None,
    carry_stats: dict | None = None,
) -> tuple[str, dict]:
    """Publish the next version of ``rel`` and atomically flip its
    pointer — the caller MUST hold the rel's SLUG write lock
    (`slug_write_lock`; builders additionally hold the root flock —
    publishes within a slug are serialized; readers never take any
    lock).

    Content = hard links of every file in ``src_dir`` except
    ``skip_names`` (the touched buckets' displaced files; their hidden
    ``.crc`` sidecars are skipped with them) + ``staged_files`` moved
    in. ``src_dir`` may belong to a DIFFERENT rel (the clone arm links
    its base relation's untouched files — a zero-copy clone), or be
    None with ``prebuilt_dir`` set: a dir whose entire content was
    staged fresh (pristine rebuilds, re-bucket completions) is RENAMED
    into place as the new version instead of link-assembled.

    The pointer carries ``extra`` verbatim (batch spec / applied
    manifest / split progress — the commit record).

    PER-FILE COLUMN STATS (r18, VERDICT r17 #1 — manifest-based data
    skipping): when ``stats_cols`` is given, or the displaced pointer
    already recorded ``stats_cols`` (stats enablement is STICKY per
    rel — every later motion maintains them without each call site
    opting in), the pointer's manifest gains ``files``:
    ``{filename: {col: [min, max]}}``. Stats come from each file's
    parquet FOOTER (metadata-only read); hard-linked carryover files
    reuse the displaced pointer's entries by name (publish stays
    O(delta) — only staged files' footers are read), and a clone from
    another rel passes that rel's map as ``carry_stats``. The pruning
    reader is `prune_layout_files`. Timestamps are committed as ISO
    strings (lexicographic == chronological), ints/floats as numbers.

    Returns (version dir, new pointer). Never touches the previous
    version's files: tombstoning the displaced dir is the CALLER's
    decision (`tombstone_layout_dir`), because the source may be
    another rel's live state."""
    old = load_layout_pointer(slug_dir, rel)
    n = (old["version"] + 1) if old else 1
    vname = f"{rel}_v{n}"
    vdir = os.path.join(slug_dir, vname)
    if os.path.exists(vdir):
        # Unpublished leftover from a crashed publish (we hold the
        # lock, so no live writer owns it) — never pointer-referenced,
        # so no reader can have resolved it.
        shutil.rmtree(vdir)
    if prebuilt_dir is not None:
        os.rename(prebuilt_dir, vdir)
    else:
        os.makedirs(vdir)
        skip = skip_names or set()
        commit.link_files(
            src_dir, vdir,
            # a displaced file's hidden ``.crc`` sidecar goes with it
            skip=lambda fn: (
                fn[1:-len(".crc")] if fn.startswith(".")
                and fn.endswith(".crc") else fn
            ) in skip,
        )
        for f in staged_files or ():
            mv_with_crc(f, vdir)
    ptr = {"version": n, "dir": vname, **(extra or {})}
    ts = time.time()
    ptr["ts"] = ts
    commit.write_json_atomic(
        os.path.join(vdir, "_commit.json"),
        {"version": n, "ts": ts, "kind": _commit_kind(extra, prebuilt_dir),
         "key": _commit_key(extra)},
    )
    cols = stats_cols if stats_cols is not None else (
        (old or {}).get("stats_cols")
    )
    if cols:
        carry = dict(carry_stats or {})
        carry.update((old or {}).get("files") or {})
        files = {}
        for fn in sorted(os.listdir(vdir)):
            if fn.startswith(".") or not fn.endswith(".parquet"):
                continue
            files[fn] = carry.get(fn) or _file_column_stats(
                os.path.join(vdir, fn), cols
            )
        ptr["files"] = files
        ptr["stats_cols"] = list(cols)
    commit.write_json_atomic(_pointer_path(slug_dir, rel), ptr)
    return vdir, ptr


def prune_layout_files(
    slug_dir: str, rel: str, col: str, lo=None, hi=None
) -> tuple[list[str], list[str], dict | None]:
    """Manifest-based FILE SKIPPING (r18): resolve the rel's CURRENT
    version through one atomic pointer parse and split its data files
    into (kept, skipped) for the predicate ``lo <= col <= hi`` (either
    bound None = unbounded), using the per-file ``[min, max]`` the
    publish committed into the pointer — the scan never opens a
    skipped file, which is the single biggest scan-cost lever for a
    selective non-clustering-key predicate at 100 TB (a real table
    format prunes the manifest before planning the scan; this is that
    motion on the snapshot pointer). Bounds use the committed
    representation: ISO strings for timestamps (lexicographic ==
    chronological), numbers for numerics.

    CONSERVATIVE by construction: a file with no committed stats for
    ``col`` (no manifest, pre-stats version, old-schema file after an
    evolution) is KEPT — skipping is an optimization, never a
    correctness dependency; callers re-apply the predicate in the
    query so a kept-but-unqualifying file contributes nothing.
    Returns (kept paths, skipped paths, pointer)."""
    vdir, ptr = resolve_layout_rel(slug_dir, rel)
    stats = (ptr or {}).get("files") or {}
    kept, skipped = [], []
    for fn in sorted(os.listdir(vdir)):
        if fn.startswith(".") or not fn.endswith(".parquet"):
            continue
        full = os.path.join(vdir, fn)
        s = (stats.get(fn) or {}).get(col)
        if s is not None and (
            (lo is not None and s[1] < lo)
            or (hi is not None and s[0] > hi)
        ):
            skipped.append(full)
        else:
            kept.append(full)
    return kept, skipped, ptr


def rewrite_layout_pointer(slug_dir: str, rel: str, ptr: dict) -> None:
    """Atomically rewrite a rel's pointer in place (same version/dir,
    updated commit record — e.g. recording an empty CDC batch)."""
    commit.write_json_atomic(_pointer_path(slug_dir, rel), dict(ptr))


def tombstone_layout_dir(path: str) -> None:
    """Phase-1 GC: mark a displaced version dir for collection after
    grace (the data-dir tombstone, invisible to parquet scans)."""
    if os.path.isdir(path):
        commit.tombstone(path, data=True)


def gc_layout_versions(slug_dir: str) -> None:
    """Phase-2 GC + crash sweep, under the slug's write lock:

    - any version dir whose tombstone is older than
      ``$PYCAIM_LAYOUT_GC_GRACE`` (default 900 s) is deleted — a
      displaced version past every reader's grace window;
    - an untombstoned ``{rel}_v{N}`` dir the rel's pointer does not
      reference is classified BY VERSION NUMBER (ADVICE r17 #1):
      ``N > pointer`` is a CRASHED PARTIAL PUBLISH — publishes happen
      under the lock we hold and always target version pointer+1, so a
      dir above the pointer was never pointer-visible and is deleted
      immediately; ``N < pointer`` is a DISPLACED version whose caller
      crashed in the window between the pointer flip and
      `tombstone_layout_dir` — a lockless reader may have resolved it
      while it was current, so it is TOMBSTONED here (entering the
      normal grace window, retention pins respected at collection)
      rather than deleted. A pointer FILE that exists but fails to
      parse makes us skip the rel entirely (fail-safe: never delete on
      ambiguity).

    A slug holding a `_LEGACY` entry raises `commit.LegacyFormatError`
    before anything is touched. Every motion and cold build runs this
    sweep first (`_slug_motion`), so none of them starts on a slug a
    pre-pointer build left behind.
    """
    if not os.path.isdir(slug_dir):
        return
    entries = os.listdir(slug_dir)
    commit.refuse_legacy(slug_dir, entries, _LEGACY)
    grace = commit.layout_grace()
    for d in entries:
        p = os.path.join(slug_dir, d)
        if not os.path.isdir(p):
            continue
        if commit.tombstoned(p, data=True):
            if _gc_retained(slug_dir, p, d):
                continue  # pinned snapshot (time travel): never collect
            m = _VDIR_RE.match(d)
            if m:
                ptr = load_layout_pointer(slug_dir, m.group(1))
                if ptr is not None and ptr.get("dir") == d:
                    # The rel's pointer still references this dir: the
                    # tombstone is debris from an interrupted cleanup —
                    # resurrect the LIVE state rather than collect it.
                    commit.clear_tombstone(p, data=True)
                    continue
            commit.collect_if_aged(p, grace, data=True)
            continue
        if d.endswith("_stage") or "_feed_tmp_" in d:
            # Stage/scratch dirs only live inside a locked writer's own
            # motion; one visible at lock-acquisition (gc always runs
            # under the slug lock) is an orphan from a crashed motion —
            # unpublished by construction, no reader ever resolves it.
            shutil.rmtree(p, ignore_errors=True)
            continue
        m = _VDIR_RE.match(d)
        if m:
            rel = m.group(1)
            if os.path.exists(_pointer_path(slug_dir, rel)):
                ptr = load_layout_pointer(slug_dir, rel)
                if ptr is None:
                    continue  # unparseable pointer: fail safe, skip rel
                if ptr["dir"] != d:
                    # Above the pointer: never pointer-visible, delete.
                    # Below it: a displaced version whose tombstone was
                    # lost to a crash — readers may hold it; tombstone.
                    commit.reconcile_versions(
                        [(int(m.group(2)), p)], ptr["version"]
                    )
            else:
                # No pointer at all: crashed before the rel's first
                # publish — the plain dir is still the live state.
                shutil.rmtree(p, ignore_errors=True)


def _gc_retained(slug_dir: str, path: str, dirname: str) -> bool:
    """True if ``dirname`` is a RETAINED version of its rel — pinned in
    the pointer's ``retained`` list (time travel, r17): retention
    overrides the tombstone, so a pinned snapshot stays readable past
    the grace window until the pin is dropped (``unretain``)."""
    m = _VDIR_RE.match(dirname)
    if not m:
        return False
    rel, v = m.group(1), int(m.group(2))
    ptr = load_layout_pointer(slug_dir, rel)
    if ptr is not None and v in (ptr.get("retained") or ()):
        return True
    # Versions named by the CURRENT slug commit (r18 multi-rel commit)
    # are readable state for commit-readers: pinned until a newer slug
    # commit stops naming them.
    rec = load_slug_commit(slug_dir)
    return rec is not None and rec["rels"].get(rel) == v


def _commit_kind(extra: dict | None, prebuilt_dir) -> str:
    """Classify a publish for the snapshot log from its commit record:
    a prebuilt dir is a pristine REBUILD; a non-null ``batch`` is a
    single-batch MERGE; an ``applied`` manifest marks a CDC stream
    commit; a bare ``rebucket`` record (no batch) is a migration pass.
    Best-effort labeling for observability — the pointer, not the
    kind, is the source of truth."""
    e = extra or {}
    if prebuilt_dir is not None:
        return "rebuild"
    if e.get("batch") is not None:
        return "merge"
    if e.get("applied"):
        return "cdc"
    if e.get("rebucket"):
        return "rebucket"
    return "publish"


def _commit_key(extra: dict | None):
    """The CDC batch key this publish applied (the last entry of the
    applied manifest), if any."""
    e = extra or {}
    if e.get("applied"):
        return e["applied"][-1].get("key")
    return None


def layout_history(slug_dir: str, rel: str) -> list[dict]:
    """SNAPSHOT LOG (r18, VERDICT r17 #5): the commit records of every
    version of ``rel`` still READABLE on disk — the current version
    plus every RETAINED (pinned) snapshot — sorted by version. Each
    record carries {version, ts, kind, key} as written atomically with
    the version dir at publish time (`publish_layout_version` writes
    ``_commit.json`` into the dir BEFORE the pointer flip, so a
    version is never pointer-visible without its record). Tombstoned
    versions inside their grace window are deliberately EXCLUDED:
    history retention is explicit and bounded, exactly like time
    travel — an expired snapshot leaves the log when it leaves the
    readable set. Pre-history (version 0, the builder's plain dir) and
    pre-r18 versions have no record and are skipped."""
    out = []
    ptr = load_layout_pointer(slug_dir, rel)
    if ptr is None:
        return out
    live = {ptr["version"]} | set(ptr.get("retained") or ())
    for v in sorted(live):
        path = (
            os.path.join(slug_dir, ptr["dir"])
            if v == ptr["version"]
            else os.path.join(slug_dir, f"{rel}_v{v}")
        )
        rec_path = os.path.join(path, "_commit.json")
        if not os.path.exists(rec_path):
            continue
        try:
            with open(rec_path) as f:
                out.append(json.load(f))
        except (OSError, ValueError):
            continue
    return out


def resolve_layout_rel_asof_ts(
    slug_dir: str, rel: str, ts: float
) -> str:
    """TIME TRAVEL BY TIMESTAMP (r18): the data dir of the newest
    readable version whose commit time is <= ``ts`` — resolved from
    the same commit records as `layout_history`, so the answer is
    always a version `resolve_layout_rel_version` would also serve.
    Raises FileNotFoundError when no readable snapshot is that old
    (bounded retention, like version-number time travel)."""
    best = None
    for rec in layout_history(slug_dir, rel):
        if rec["ts"] <= ts and (best is None or rec["version"] > best):
            best = rec["version"]
    if best is None:
        raise FileNotFoundError(
            f"no readable snapshot of {rel} in {slug_dir} at or before "
            f"ts={ts} (expired past retention, or committed later)"
        )
    return resolve_layout_rel_version(slug_dir, rel, best)


def publish_slug_commit(
    slug_dir: str, rels: dict, extra: dict | None = None
) -> dict:
    """SLUG-LEVEL MULTI-REL COMMIT (r18, VERDICT r17 #4): one atomic
    pointer naming EVERY rel's version — ``slug_commit.json`` =
    ``{"commit": K, "ts": ..., "rels": {rel: version}}``. A motion
    that mutates two rels publishes each rel's version WITHOUT
    tombstoning the displaced dirs, then flips this one file: readers
    that resolve through `resolve_slug_commit` see the old pair or the
    new pair, never a mix. Only after the flip does the caller
    tombstone the displaced dirs (grace protects commit-readers that
    resolved the old commit); versions named by the CURRENT slug
    commit are additionally GC-pinned (`_gc_retained` consults this
    file), so a crash between the per-rel pointer flips and the slug
    commit flip leaves the commit's versions readable until the next
    locked writer completes or re-derives the motion. Caller MUST hold
    the slug write lock."""
    old = load_slug_commit(slug_dir)
    rec = {
        "commit": (old["commit"] + 1) if old else 1,
        "ts": time.time(),
        "rels": {r: int(v) for r, v in rels.items()},
        **(extra or {}),
    }
    commit.write_json_atomic(os.path.join(slug_dir, "slug_commit.json"), rec)
    return rec


def load_slug_commit(slug_dir: str) -> dict | None:
    """Parse ``slug_commit.json``; None if absent/unparseable."""
    return commit.load_pointer(
        os.path.join(slug_dir, "slug_commit.json"), key="rels", kind=dict
    )


def resolve_slug_commit(slug_dir: str) -> dict:
    """One atomic parse of the slug commit -> {rel: data dir}, every
    dir an immutable committed version: the multi-rel consistent read.
    Raises FileNotFoundError if no slug commit exists."""
    rec = load_slug_commit(slug_dir)
    if rec is None:
        raise FileNotFoundError(f"no slug commit in {slug_dir}")
    return {
        rel: resolve_layout_rel_version(slug_dir, rel, v)
        for rel, v in rec["rels"].items()
    }


def resolve_layout_rel_version(
    slug_dir: str, rel: str, version: int
) -> str:
    """TIME TRAVEL: the data dir of a SPECIFIC committed version.
    Version dirs are immutable once published, so any version still on
    disk — the current one, a tombstoned one inside its grace window,
    or a RETAINED one pinned in the pointer's ``retained`` list — reads
    consistently. Raises FileNotFoundError for an expired (collected)
    version: history retention is explicit, not unbounded."""
    ptr = load_layout_pointer(slug_dir, rel)
    if ptr is not None and ptr["version"] == version:
        return os.path.join(slug_dir, ptr["dir"])
    if version == 0:
        path = os.path.join(slug_dir, rel)
    else:
        path = os.path.join(slug_dir, f"{rel}_v{version}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(
            f"version {version} of {rel} in {slug_dir} is not on disk "
            "(expired past its grace window and not in the pointer's "
            "retained list)"
        )
    return path


# Ship by value: Spark workers cannot import pycaim_spark (driver-only
# sys.path).
_cloudpickle.register_pickle_by_value(sys.modules[__name__])
