"""Catalog: the session-scoped table-handle registry behind ``load_table``,
``fresh_cache``, and the streaming state-partition sizing rule."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from pycaim_spark import catalog
from pycaim_spark.planaudit import build_jobs
from pycaim_spark.streaming.runner import stream_state_partitions


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rewritten_file_invalidates_handle(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    first = catalog.load_table(spark, sf, "region")
    assert _rows(first) == [(0, "A"), (1, "B")]

    pq.write_table(
        pa.table({
            "r_regionkey": [7, 8, 9],
            "r_name": ["X", "Y", "Z"],
            "r_comment": ["x", "y", "z"],
        }),
        path,
    )
    second = catalog.load_table(spark, sf, "region")
    assert second is not first
    assert second.columns == ["r_regionkey", "r_name", "r_comment"]
    assert _rows(second) == [(7, "X", "x"), (8, "Y", "y"), (9, "Z", "z")]
    # The replaced entry is dropped, not kept beside the new one.
    assert sum(k[2] == os.path.abspath(path) for k in catalog._HANDLES) == 1


def test_unchanged_file_is_served_without_a_job(spark, sf_dir, tmp_path):
    sf = str(tmp_path)
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), sf)
    first, cold_jobs = build_jobs(
        spark, lambda: catalog.load_table(spark, sf, "nation")
    )
    # The probe sees the cold read's footer-schema job, so the zero below
    # is a measurement, not a blind spot.
    assert cold_jobs > 0
    second, warm_jobs = build_jobs(
        spark, lambda: catalog.load_table(spark, sf, "nation")
    )
    assert warm_jobs == 0
    assert second is first


def test_warm_register_temp_views_launches_no_job(spark, sf_dir):
    catalog.register_temp_views(spark, sf_dir)
    _, jobs = build_jobs(
        spark, lambda: catalog.register_temp_views(spark, sf_dir)
    )
    assert jobs == 0
    assert set(catalog.TABLES) <= {
        t.name for t in spark.catalog.listTables() if t.isTemporary
    }


def test_events_ts_normalized_on_every_load(spark, sf_dir):
    for _ in range(2):
        ev = catalog.load_table(spark, sf_dir, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp_ntz"


def test_handles_are_per_session(spark, sf_dir):
    other = spark.newSession()
    mine = catalog.load_table(spark, sf_dir, "region")
    theirs = catalog.load_table(other, sf_dir, "region")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert catalog.load_table(spark, sf_dir, "region") is mine


def test_missing_table_raises_and_is_not_stored(spark, tmp_path):
    n = len(catalog._HANDLES)
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        catalog.load_table(spark, str(tmp_path), "region")
    assert len(catalog._HANDLES) == n


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel(False, False, False, False, 1)


def test_fresh_cache_evicts_previous_entry(spark):
    key = "test_catalog.fresh_cache"
    try:
        a = catalog.fresh_cache(key, spark.range(50).selectExpr("id * 2 AS x"))
        assert _cached(a)
        other = catalog.fresh_cache(
            key + ".other", spark.range(50).selectExpr("id * 5 AS x")
        )
        b = catalog.fresh_cache(key, spark.range(50).selectExpr("id * 3 AS x"))
        assert _cached(b)
        assert not _cached(a)
        # Another call site's entry is left alone.
        assert _cached(other)
        assert sorted(r.x for r in b.collect()) == [3 * i for i in range(50)]
    finally:
        for k in (key, key + ".other"):
            prev = catalog._FRESH_CACHE.pop(k, None)
            if prev is not None:
                prev.unpersist()



def _cache_loaded(spark, df) -> bool:
    """Whether the CacheManager entry serving ``df``'s plan already holds
    materialized column buffers."""
    entry = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    assert not entry.isEmpty()
    builder = entry.get().cachedRepresentation().cacheBuilder()
    return builder.isCachedColumnBuffersLoaded()


def test_pipeline_pretrain_cache_does_not_outlive_its_call(spark, sf_dir):
    from pycaim_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    key = "pipeline_pretrain.quality"
    fn = REGISTRY["pipeline_pretrain"].fn
    try:
        first_rows = _rows(fn(spark, sf_dir))
        first = catalog._FRESH_CACHE[key]
        assert _cache_loaded(spark, first)
        second_df = fn(spark, sf_dir)
        second = catalog._FRESH_CACHE[key]
        # The first call's frame was unpersisted and the second call's
        # entry starts empty: nothing computed by call one serves call two.
        assert second is not first
        assert not first.is_cached
        assert not _cache_loaded(spark, second)
        assert [
            k for k in catalog._FRESH_CACHE if k.startswith("pipeline_pretrain")
        ] == [key]
        assert _rows(second_df) == first_rows
    finally:
        prev = catalog._FRESH_CACHE.pop(key, None)
        if prev is not None:
            prev.unpersist()

def _events_of_size(sf: str, nbytes: int) -> str:
    # Sparse file: the sizing rule reads only the byte size.
    with open(os.path.join(sf, "events.parquet"), "wb") as f:
        f.truncate(nbytes)
    return sf


def test_stream_state_partitions_sized_by_source_bytes(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("PYCAIM_STREAM_STATE_PARTITIONS", raising=False)
    cores = spark.sparkContext.defaultParallelism
    assert cores >= 3
    sf = str(tmp_path)
    # One partition per 32 MiB of source input.
    assert stream_state_partitions(spark, _events_of_size(sf, 3 << 25)) == 3
    assert stream_state_partitions(spark, _events_of_size(sf, (2 << 25) + 1)) == 2
    # Clamped to [1, defaultParallelism].
    assert stream_state_partitions(spark, _events_of_size(sf, 1 << 10)) == 1
    assert stream_state_partitions(
        spark, _events_of_size(sf, (cores + 5) << 25)
    ) == cores
    assert stream_state_partitions(spark, str(tmp_path / "missing")) == 1


def test_stream_state_partitions_counts_parquet_parts_of_a_dir(
    spark, tmp_path, monkeypatch
):
    monkeypatch.delenv("PYCAIM_STREAM_STATE_PARTITIONS", raising=False)
    src = tmp_path / "events.parquet"
    src.mkdir()
    for name, size in (("part-0.parquet", 1 << 25), ("part-1.parquet", 1 << 25),
                       ("_SUCCESS", 5 << 25)):
        with open(src / name, "wb") as f:
            f.truncate(size)
    assert stream_state_partitions(spark, str(tmp_path)) == 2


def test_stream_state_partitions_env_override(spark, tmp_path, monkeypatch):
    sf = _events_of_size(str(tmp_path), 3 << 25)
    cores = spark.sparkContext.defaultParallelism
    monkeypatch.setenv("PYCAIM_STREAM_STATE_PARTITIONS", str(cores + 7))
    assert stream_state_partitions(spark, sf) == cores + 7
    monkeypatch.setenv("PYCAIM_STREAM_STATE_PARTITIONS", "0")
    assert stream_state_partitions(spark, sf) == 1
