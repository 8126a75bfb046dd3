"""CheckpointStore contract, parameterized over ≥2 real backends.

Proves the `run_pipeline(store=...)` seam is storage-agnostic: the same
assertions run against the plain parquet store and the Delta-style
versioned-directory store (the Iceberg store runs the identical pipeline
in test_iceberg_integration.py when a runtime jar is present)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.plans.checkpoint import ParquetCheckpointStore
from mashing_pumpkins_spark.plans.versioned import VersionedDirCheckpointStore

STORES = [ParquetCheckpointStore, VersionedDirCheckpointStore]


@pytest.fixture(params=STORES, ids=lambda c: c.__name__)
def store_cls(request):
    return request.param


def test_write_read_roundtrip_and_manifest(spark, tmp_path, store_cls):
    store = store_cls(str(tmp_path / "ck"), "cfg1")
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("y"))
    out, res = store.write(spark, "s1", df)
    assert res.rows == 100 and not res.skipped
    assert sum(res.partition_counts) == 100
    assert out.orderBy("id").collect() == df.orderBy("id").collect()
    meta = store.manifest("s1")
    assert meta["complete"] is True and meta["config_hash"] == "cfg1"
    assert meta["rows"] == 100


def test_has_respects_config_hash(spark, tmp_path, store_cls):
    store = store_cls(str(tmp_path / "ck"), "cfgA")
    store.write(spark, "s1", spark.range(5))
    assert store.has("s1")
    other = store_cls(str(tmp_path / "ck"), "cfgB")
    assert not other.has("s1")  # different config must NOT resume


def test_get_or_compute_skips_second_time(spark, tmp_path, store_cls):
    store = store_cls(str(tmp_path / "ck"), "cfg1")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(7)

    _, r1 = store.get_or_compute(spark, "s1", compute)
    _, r2 = store.get_or_compute(spark, "s1", compute)
    assert len(calls) == 1
    assert not r1.skipped and r2.skipped
    assert r2.rows == 7 and r2.wall_sec == 0.0


def test_empty_stage_roundtrips_schema(spark, tmp_path, store_cls):
    store = store_cls(str(tmp_path / "ck"), "cfg1")
    df = spark.range(5).where(F.col("id") < 0).select(F.col("id").alias("k"))
    out, res = store.write(spark, "empty", df)
    assert res.rows == 0
    back = store.read(spark, "empty")
    assert back.count() == 0 and back.columns == ["k"]


def test_read_fails_on_missing_part_file(spark, tmp_path, store_cls):
    """Reads use the manifest's schema, which would read a short snapshot
    without complaint: a part file gone from a committed stage must raise
    instead."""
    store = store_cls(str(tmp_path / "ck"), "cfg1")
    store.write(spark, "s1", spark.range(100).repartition(4))
    parts = sorted((tmp_path / "ck").rglob("part-*.parquet"))
    assert len(parts) == 4 and store.has("s1")
    parts[0].unlink()
    with pytest.raises(FileNotFoundError, match="part files"):
        store.read(spark, "s1")


def test_pipeline_resume_on_both_stores(spark, tmp_path, store_cls):
    """The full near-dup pipeline commits per stage and resumes with every
    stage skipped on a second run — on EVERY store backend."""
    from mashing_pumpkins_spark.config import PipelineConfig
    from mashing_pumpkins_spark.plans.pipeline import run_pipeline

    base = "words " + " ".join(f"tok{i}" for i in range(120))
    rows = [(f"u{i:03d}", base + (f" tail{i}" if i % 3 else "")) for i in range(30)]
    pages = spark.createDataFrame(rows, "url string, text string")
    cfg = PipelineConfig()
    store = store_cls(str(tmp_path / "ck"), cfg.config_hash())

    clusters1, rep1 = run_pipeline(spark, pages, cfg, store=store)
    got1 = sorted(map(tuple, clusters1.collect()))
    assert not any(s.skipped for s in rep1.stages)

    store2 = store_cls(str(tmp_path / "ck"), cfg.config_hash())
    clusters2, rep2 = run_pipeline(spark, pages, cfg, store=store2)
    assert all(s.skipped for s in rep2.stages)
    assert sorted(map(tuple, clusters2.collect())) == got1


def test_versioned_store_time_travel_and_orphan_invisibility(spark, tmp_path):
    """Versioned-store specifics: each write appends a version readable
    later, and a data directory without a commit record is invisible."""
    store = VersionedDirCheckpointStore(str(tmp_path / "ck"), "cfg1")
    store.write(spark, "s", spark.range(3))
    store.write(spark, "s", spark.range(8))
    assert store.versions("s") == [1, 2]
    assert store.read_version(spark, "s", 1).count() == 3
    assert store.read(spark, "s").count() == 8  # latest wins
    # simulate a crash: data dir landed, commit record did not
    import shutil

    v2_dir = store._data_dir("s", 2)
    orphan = store._data_dir("s", 3)
    shutil.copytree(v2_dir, orphan)
    assert store.versions("s") == [1, 2]
    assert store.read(spark, "s").count() == 8
    meta = store.manifest("s")
    assert meta["version"] == 2
    # a torn commit record (invalid JSON) is likewise skipped
    (store._log_dir("s") / "00000004.json").write_text("{not json")
    assert store.versions("s") == [1, 2]


def test_versioned_store_stale_config_versions_do_not_resume(spark, tmp_path):
    """A committed version from an OLD config hash must not satisfy has()
    for a new config, but history stays readable per version."""
    old = VersionedDirCheckpointStore(str(tmp_path / "ck"), "old")
    old.write(spark, "s", spark.range(4))
    new = VersionedDirCheckpointStore(str(tmp_path / "ck"), "new")
    assert not new.has("s")
    new.write(spark, "s", spark.range(9))
    assert new.manifest("s")["rows"] == 9
    assert json.loads((new._log_dir("s") / "00000001.json").read_text())["rows"] == 4
    assert new.read_version(spark, "s", 1).count() == 4
