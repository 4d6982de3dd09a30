"""Driver-side reader caches: freshness and bounded size."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from aws_etl_fiap_spark.sources import readers
from aws_etl_fiap_spark.sources.readers import CACHE_ENTRIES, load_table


def test_schema_cache_sees_nested_part_file_rewrite(spark, tmp_path):
    part = tmp_path / "t.parquet" / "k=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "k"]

    # Rewrite the part file in place with one more column: no directory's
    # mtime changes, only the nested file's.  The explicit later mtime keeps
    # the check independent of the filesystem's timestamp granularity.
    old = os.stat(part).st_mtime
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), part)
    os.utime(part, (old + 10, old + 10))

    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "k"]
    assert [tuple(r) for r in df.collect()] == [(3, "x", "1")]


def test_reader_caches_are_bounded_lru():
    for cache in (readers._SCHEMA_CACHE, readers._NPARTS_CACHE):
        saved = list(cache.items())
        try:
            cache.clear()
            cache[("first",)] = 0
            for i in range(CACHE_ENTRIES + 10):
                cache[("key", i)] = i
                assert cache.get(("first",)) == 0  # recently used: kept
            assert len(cache) == CACHE_ENTRIES
            assert cache.get(("key", CACHE_ENTRIES + 9)) == CACHE_ENTRIES + 9
            assert ("key", 0) not in cache  # least recently used: evicted
        finally:
            cache.clear()
            for key, value in saved:
                cache[key] = value
