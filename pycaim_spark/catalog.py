"""Table catalog: load the driver's TPC-H-ish parquet fixtures.

Fixture schemas: FIXTURES.md (read from parquet footers). Tables live at
``{sf_dir}/{name}.parquet`` (TESTDATA.md:14-15).

Normalization applied on load (and mirrored in every oracle SQL):

- ``events.ts`` is physically INT64 TIMESTAMP(NANOS); Spark reads it as a
  long (``nanosAsLong``) and we convert with integer division ``ts DIV 1000``
  → ``timestamp_micros`` → TIMESTAMP_NTZ. Integer division is load-bearing:
  epoch-nanos (~1.7e18) exceed double's 2^53 integer range, so a float
  divide would corrupt microseconds. The DuckDB oracle side is
  ``CAST(ts AS TIMESTAMP)`` (ns → µs truncation, identical semantics).

Table-handle registry. Every ``spark.read.parquet`` lists the files and
launches a one-task footer-schema job, so :func:`load_table` reads each
table once per session and serves the stored DataFrame handle after
that. An entry is keyed on

- the session: ``spark.sparkContext.applicationId`` plus the session
  object (a driver-built session, a ``newSession()`` and a restarted
  context never share a handle);
- the absolute table path;
- :func:`_layout_fingerprint` of that path: every file's relative name,
  size and ``st_mtime_ns``.

Invalidation is by key, never by hand: a rewritten table has a new
fingerprint, so its next load misses and reads the new footer (the file
index a handle carries is fixed when it is read — serving it after a
rewrite would scan a stale file list). The entry it replaces, and every
entry of a stopped application, is dropped on that miss. A path that
cannot be fingerprinted locally (missing, or not on the local file
system) is read on every call and never stored, so a missing table
still raises Spark's own ``PATH_NOT_FOUND``.

:func:`register_temp_views` re-issues ``createOrReplaceTempView`` from
the stored handles on every call. That is cheap, and it keeps every
``spark.sql`` query independent of what an earlier call left behind: a
view another call pointed at a different ``sf_dir``, or that someone
replaced, is overwritten just as before.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from pycaim_spark.session import configure_session

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Last cached diamond intermediate per call site — see :func:`fresh_cache`.
_FRESH_CACHE: dict[str, DataFrame] = {}


def fresh_cache(key: str, df: DataFrame) -> DataFrame:
    """Bounded-lifetime ``cache()`` for tiny diamond intermediates
    (VERDICT r18 #7): Spark's CacheManager keys on the canonicalized plan,
    so a plain ``.cache()`` inside a query function SURVIVES across
    invocations — under the bench's warm-up + median-of-3 the timed runs
    would re-read the InMemoryRelation instead of recomputing, silently
    measuring the CacheManager. Here each call first unpersists the
    previous invocation's entry (same canonicalized plan → same cache
    slot), so every invocation recomputes from the parquet inputs while
    the diamond still closes WITHIN the invocation (the reason these
    caches exist: Spark's only common-subplan reuse is ReusedExchange,
    and a shuffle-free diamond executes its shared subtree twice)."""
    prev = _FRESH_CACHE.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    _FRESH_CACHE[key] = df.cache()
    return _FRESH_CACHE[key]


def _layout_fingerprint(path: str) -> str:
    """Digest of the sorted (relative-name, size, mtime_ns) tuples of every
    file under ``path`` (or of the single file). Round 13 (ADVICE r12): the
    previous total-bytes + whole-second-newest-mtime pair collides when a
    deterministic corpus is regenerated in place within the same second at
    an identical byte size — exactly the stale-layout serve the fingerprint
    exists to prevent. st_mtime_ns plus per-file identity makes that
    collision require a byte-for-byte-indistinguishable rewrite."""
    import hashlib

    h = hashlib.md5()
    if os.path.isdir(path):
        entries = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                entries.append(
                    (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
                )
        for e in sorted(entries):
            h.update(repr(e).encode())
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


#: Table handles: (application id, id(session), abs path, fingerprint) →
#: DataFrame — see the module docstring. The handle references its
#: session, so the ``id`` in a live key cannot be reused by another one.
_HANDLES: dict[tuple[str, int, str, str], DataFrame] = {}


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # int64 epoch-nanos -> µs-precision naive timestamp (see module doc).
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, applying type normalization; served from
    the session's handle registry after the first read (module doc)."""
    configure_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        fp = _layout_fingerprint(path)
    except OSError:
        return _read_table(spark, path, name)
    app = spark.sparkContext.applicationId
    key = (app, id(spark), os.path.abspath(path), fp)
    df = _HANDLES.get(key)
    if df is None:
        df = _read_table(spark, path, name)
        for k in list(_HANDLES):
            if k[0] != app or k[1:3] == key[1:3]:
                _HANDLES.pop(k, None)
        _HANDLES[key] = df
    return df


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Row count from parquet footer metadata only — no Spark job, no data
    scan. Used by scale guards that must stay lazy at plan-build time
    (e.g. dedup_embedding's all-pairs cap). Handles both a single file and
    a directory of part files."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables as a dict."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql() use,
    from the registry's handles (module doc: why every call re-issues
    them)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
