"""Table-format seam: parquet default, Iceberg activation rules, and the
pyramid checkpoint contract running through the seam."""

import os

import pytest

from geojson_vt_spark.sources.table_format import (
    IcebergSnapshotStore,
    ParquetSnapshotStore,
    _namespace_for,
    resolve_format,
)


def test_resolve_defaults_to_parquet(spark, tmp_path):
    store = resolve_format(spark, str(tmp_path))
    assert isinstance(store, ParquetSnapshotStore)


def test_resolve_none_root(spark):
    assert resolve_format(spark, None) is None


def test_resolve_iceberg_requires_catalog(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    with pytest.raises(RuntimeError, match="no Iceberg catalog"):
        resolve_format(spark, str(tmp_path))


def test_parquet_store_roundtrip(spark, tmp_path):
    store = ParquetSnapshotStore(str(tmp_path))
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    assert not store.exists("lvl/z=00")
    store.write(df, "lvl/z=00")
    assert store.exists("lvl/z=00")
    back = store.read(spark, "lvl/z=00", df.schema)
    assert sorted(r.v for r in back.collect()) == [2 * i for i in range(10)]
    # overwrite is idempotent (resume rewrites an unfinished level)
    store.write(df, "lvl/z=00")
    assert store.exists("lvl/z=00")


def test_incomplete_write_not_committed(spark, tmp_path):
    """A directory without _SUCCESS (killed mid-write) reads as absent."""
    store = ParquetSnapshotStore(str(tmp_path))
    df = spark.range(5)
    store.write(df, "lvl/z=01")
    os.remove(os.path.join(str(tmp_path), "lvl/z=01", "_SUCCESS"))
    assert not store.exists("lvl/z=01")


def test_iceberg_identifier_mapping():
    # no catalog in this sandbox: check the name mapping logic only
    ident = IcebergSnapshotStore._ident
    class Fake:
        catalog = "lake"
        namespace = "ckpt_x"
    assert ident(Fake(), "unified/z=04") == "lake.ckpt_x.unified_z_04"
    assert _namespace_for("/tmp/py ramid/run1") == "ckpt_tmp_py_ramid_run1"


def test_pyramid_checkpoint_through_seam(spark, tmp_path):
    """The one snapshot step (every pyramid and grid level) writes through
    the seam (default parquet impl) and the resume contract holds."""
    from geojson_vt_spark.sources.table_format import snapshot

    df = spark.range(4).selectExpr("id AS a")
    out1 = snapshot(df, str(tmp_path), "unified/z=00", resume=False)
    assert out1.count() == 4
    marker = os.path.join(str(tmp_path), "unified/z=00", "_SUCCESS")
    assert os.path.exists(marker)
    mtime = os.stat(marker).st_mtime_ns
    out2 = snapshot(df, str(tmp_path), "unified/z=00", resume=True)
    assert out2.count() == 4
    assert os.stat(marker).st_mtime_ns == mtime  # reused, not rewritten
