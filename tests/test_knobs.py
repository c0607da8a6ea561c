"""Environment knobs the package reads: an explicit allowlist.

Plan-shape decisions are made by benchmarking the parent commit against
the change, not by keeping the losing shape behind a ``PYCAIM_*`` switch.
Every env name the package reads must be a real tunable listed here with
its reason, so a retired arm coming back, or a new knob, fails this test
until the list is edited on purpose.
"""

from __future__ import annotations

import pathlib
import re

TUNABLES = {
    "PYCAIM_DRIVER_MEM": "driver JVM heap, sized to the host",
    "PYCAIM_MAX_PARTITION_BYTES": "parquet scan split size",
    "PYCAIM_EXTRA_CONFS": "ad-hoc Spark confs applied last; perfbench sets its JVM flags here",
    "PYCAIM_SCRATCH": "root dir of persisted stores, indexes and layouts",
    "PYCAIM_LSH_MAX_BUCKET": "LSH bucket width above which pairs degrade to star",
    "PYCAIM_ALLPAIRS_MAX_ROWS": "row cap above which all-pairs similarity raises",
    "PYCAIM_STORE_GC_GRACE": "seconds a tombstoned store dir survives for lockless readers",
    "PYCAIM_STORE_GC_KEEP": "folded keys kept in a store manifest after compaction",
    "PYCAIM_LAYOUT_GC_GRACE": "seconds a tombstoned layout version survives for lockless readers",
    "PYCAIM_STREAM_STATE_PARTITIONS": "overrides the source-size rule for state-store partitions",
}


def test_package_reads_only_allowlisted_env_knobs():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "pycaim_spark"
    found = {
        name
        for path in pkg.rglob("*.py")
        for name in re.findall(r"PYCAIM_[A-Z0-9_]+", path.read_text())
    }
    assert found == set(TUNABLES)
