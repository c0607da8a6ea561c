"""Bucket-local MERGE core — the delta-input compute half of the CDC
upsert motion (r16).

At 100 TB a MERGE must cost O(delta), not O(table): the batch's keys
hash-route to their buckets (``pmod(hash(key), n)`` — the same
Murmur3(seed 42) Spark's ``HashPartitioning`` derives bucket ids from),
only those buckets' files are opened, and the replacement files are
staged through a bucketed write so each touched bucket keeps exactly one
sorted file. This module is that compute core, PURE of fixture
scaffolding: it takes the delta as DataFrames (``upserts`` = full
replacement-or-new rows, ``deletes`` = keys) — the shape a production
CDC stream actually delivers — and never scans the base corpus. The
registered layout queries (queries/advanced.py
``_upserted_orderkey_layout``) derive their deterministic demo batches
from predicates so the DuckDB oracle can reproduce them, then run the
motion through this API; locking, commit markers, crash journals and the
file swap stay with the caller, because those are storage-layout policy
(clone vs in-place, marker idempotence) rather than merge computation.

Scale posture: the two driver-side materializations are both bounded by
the bucket count (a ``distinct`` over delta-key bucket ids and the
staged-file listing); rows flow base-files → staged-files entirely in
executors. Bytes accounting at sf10: SCALING_r16.json
``upsert_inplace_vs_clone_sf10``.
"""

from __future__ import annotations

import os
import re
import sys

import cloudpickle as _cloudpickle
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: Bucket id as Spark's bucketed writers encode it in part-file names
#: (``..._NNNNN.cNNN....``).
BUCKET_FILE_RE = re.compile(r"_(\d{5})\.c\d{3}\.")


def bucket_files(path: str) -> dict[int, list[str]]:
    """Data files by bucket id. Hidden ``.<name>.crc`` sidecars are
    excluded — the local FS writes one per part file and its name also
    matches the bucket pattern; swap code moves/removes each sidecar
    WITH its data file instead of treating it as a bucket member."""
    out: dict[int, list[str]] = {}
    for f in os.listdir(path):
        m = BUCKET_FILE_RE.search(f)
        if m and not f.startswith("."):
            out.setdefault(int(m.group(1)), []).append(
                os.path.join(path, f)
            )
    return out


def assert_bucket_map(path: str, live: dict[int, list[str]]) -> None:
    """Guard against part-file naming drift (VERDICT r16 #6): every
    non-hidden parquet data file in a bucketed dir must have matched
    `BUCKET_FILE_RE`. A Spark upgrade that renames part files would
    otherwise yield an empty/partial bucket map and the merge would
    quietly treat resident rows as absent — fail loudly instead, naming
    the unmatched file."""
    mapped = {os.path.basename(f) for fs in live.values() for f in fs}
    for fn in os.listdir(path):
        if fn.startswith(".") or not fn.endswith(".parquet"):
            continue
        if fn not in mapped:
            raise AssertionError(
                f"bucketed data file {fn!r} in {path} does not match the "
                "bucket-id filename pattern (_NNNNN.cNNN.) — Spark's "
                "part-file naming changed; refusing to merge against an "
                "incomplete bucket map"
            )


def delta_touched_buckets(
    delta_keys: DataFrame, key: str, buckets: int
) -> list[int]:
    """Bucket ids the delta's keys hash into — computed from the DELTA
    ALONE (the production contract: a CDC batch knows its own keys; no
    base-table scan). Driver-side result is bounded by ``buckets``."""
    return sorted(
        r.b
        for r in delta_keys.select(
            F.pmod(F.hash(F.col(key)), F.lit(buckets)).alias("b")
        )
        .distinct()
        .collect()
    )


def plan_bucket_local_merge(
    spark,
    *,
    path: str,
    schema,
    key: str,
    buckets: int,
    upserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
    stage_path: str,
    stage_table: str,
    touched: list[int] | None = None,
    evolve_schema: bool = False,
) -> dict:
    """Compute and STAGE a bucket-local MERGE; the caller swaps files.

    Semantics (standard MERGE): rows whose key appears in ``deletes`` or
    in ``upserts`` are dropped from the touched buckets' current rows,
    then ``upserts`` rows are added — so an upsert REPLACES an existing
    key and INSERTS a new one. A key appearing in BOTH inputs comes back
    via its upsert row (upsert wins); callers wanting delete-precedence
    filter their upserts first, as the fixture batches do.
    Keys are removed via a broadcast LEFT ANTI join against the
    (batch-sized) delta-key set, so the base side streams map-side.

    ``touched`` defaults to `delta_touched_buckets` over the combined
    delta keys; callers that already derived it (the fixture queries,
    whose demo batches come from predicates over the raw corpus) pass it
    to avoid re-running their derivation scan. Either way the staged
    output is ASSERTED to land only in predicted buckets — if Spark's
    bucket assignment ever diverged from ``pmod(hash(key), n)`` the
    motion aborts loudly instead of mis-placing rows.

    ``schema`` is the base table's CURRENT committed schema (a
    StructType or DDL string) — the touched files are read with it, not
    by inference, so post-evolution merges keep evolved columns
    null-filled on old files instead of losing them to a sampled footer.

    ``evolve_schema=True`` is the schema-evolution arm (VERDICT r16 #3):
    ``upserts`` may carry columns the base lacks; the merged output's
    schema is base ∪ delta with resident rows null-filled on the new
    columns (``unionByName(allowMissingColumns=True)`` — the standard
    additive-column CDC posture; parquet readers of the evolved table
    null-fill the new column when scanning untouched buckets' old
    files). Default is STRICT: a delta whose schema diverges from the
    base fails the union loudly instead of silently null-filling a
    malformed feed.

    Returns ``{"touched": [...], "live": {bucket: [files]},
    "staged": {bucket: [files]}}``. Empty-delta batches return
    ``touched == []`` with nothing staged. Precondition: the caller
    hands over a WIPED stage — no ``stage_table`` in the catalog and no
    dir at ``stage_path`` (every motion wipes it under its slug lock,
    `_slug_motion`/`_drop_stage`). The staged table is left in place for
    the caller to swap from and then drop."""
    key_sets = []
    if upserts is not None:
        key_sets.append(upserts.select(key))
    if deletes is not None:
        key_sets.append(deletes.select(key))
    if not key_sets:
        return {"touched": [], "live": {}, "staged": {}}
    delta_keys = key_sets[0]
    for extra in key_sets[1:]:
        delta_keys = delta_keys.unionByName(extra)
    if touched is None:
        touched = delta_touched_buckets(delta_keys, key, buckets)
    if not touched:
        return {"touched": [], "live": {}, "staged": {}}

    live = bucket_files(path)
    assert_bucket_map(path, live)
    touched_files = [f for b in touched for f in live.get(b, [])]
    # The base is read with the caller-committed ``schema`` (the table's
    # current DDL), NEVER inferred: after a schema evolution the touched
    # buckets can mix old- and new-schema files, and parquet inference
    # samples one footer — picking an old file would silently DROP the
    # evolved columns from every resident row (found live in r17:
    # a delete batch chained on an evolved base lost o_channel
    # entirely). Old files null-fill the evolved columns per the schema.
    cur = (
        spark.read.schema(schema).parquet(*touched_files)
        if touched_files
        else spark.createDataFrame([], schema)
    )
    merged = cur.join(
        F.broadcast(delta_keys.distinct()), on=key, how="left_anti"
    )
    if upserts is not None:
        merged = merged.unionByName(
            upserts, allowMissingColumns=evolve_schema
        )
    (
        merged.repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", stage_path)
        .saveAsTable(stage_table)
    )
    staged = bucket_files(stage_path)
    stray = sorted(set(staged) - set(touched))
    if stray:
        raise AssertionError(
            f"staged files landed in unpredicted buckets {stray}: "
            "F.hash/pmod no longer matches Spark's bucket assignment — "
            "aborting before mis-placing rows"
        )
    return {"touched": touched, "live": live, "staged": staged}


def mv_with_crc(f: str, dst_dir: str) -> None:
    """Rename a part file into ``dst_dir`` WITH its crc sidecar."""
    base = os.path.basename(f)
    os.rename(f, os.path.join(dst_dir, base))
    crc = os.path.join(os.path.dirname(f), f".{base}.crc")
    if os.path.exists(crc):
        os.rename(crc, os.path.join(dst_dir, f".{base}.crc"))


# Ship by value: Spark workers cannot import pycaim_spark (driver-only
# sys.path).
_cloudpickle.register_pickle_by_value(sys.modules[__name__])
