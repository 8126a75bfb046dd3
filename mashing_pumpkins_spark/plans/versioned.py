"""Delta-style versioned-directory checkpoint store.

A third implementation of the CheckpointStore contract
(get_or_compute / has / read / write / manifest — see plans/checkpoint.py
and plans/iceberg.py) with a genuinely different storage shape, proving
the `run_pipeline(store=...)` seam is not parquet-single-snapshot-shaped:

  root/<stage>/v00000001/   parquet snapshot for version 1
  root/<stage>/v00000002/   parquet snapshot for version 2
  root/<stage>/_log/00000001.json   commit record for version 1 ...

The COMMIT POINT is the atomic rename of the commit record into `_log/`
(the Delta-lake transaction-log idea, public design): a crash after the
data directory lands but before the log rename leaves an orphan snapshot
that readers never see. Every successful `write()` appends a NEW version
(old snapshots stay readable — `read_version()` is snapshot time travel),
and `has()`/`read()` resolve the LATEST committed version whose
config_hash matches, so re-runs under a changed config never resume from
a stale stage.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import StageResult, read_committed


class VersionedDirCheckpointStore:
    def __init__(self, root: str, config_hash: str):
        self.root = pathlib.Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.config_hash = config_hash

    # ------------------------------------------------------------ internals
    def _log_dir(self, stage: str) -> pathlib.Path:
        return self.root / stage / "_log"

    def _commits(self, stage: str) -> list[tuple[int, dict]]:
        """Committed (version, record) pairs, ascending. Only entries whose
        rename into _log/ completed exist here — orphan data dirs without a
        log record are invisible by construction."""
        log = self._log_dir(stage)
        if not log.is_dir():
            return []
        out = []
        for p in sorted(log.glob("*.json")):
            try:
                rec = json.loads(p.read_text())
                out.append((int(p.stem), rec))
            except (OSError, json.JSONDecodeError, ValueError):
                continue
        return out

    def _latest(self, stage: str) -> tuple[int, dict] | None:
        """Latest committed version for THIS config hash."""
        for version, rec in reversed(self._commits(stage)):
            if rec.get("complete") is True and rec.get("config_hash") == self.config_hash:
                return version, rec
        return None

    def _data_dir(self, stage: str, version: int) -> pathlib.Path:
        return self.root / stage / f"v{version:08d}"

    # ------------------------------------------------------------- contract
    def has(self, stage: str) -> bool:
        latest = self._latest(stage)
        return latest is not None and self._data_dir(stage, latest[0]).exists()

    def manifest(self, stage: str) -> dict:
        latest = self._latest(stage)
        if latest is None:
            raise FileNotFoundError(f"no committed version for stage {stage!r}")
        return latest[1]

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        latest = self._latest(stage)
        if latest is None:
            raise FileNotFoundError(f"no committed version for stage {stage!r}")
        return self.read_version(spark, stage, latest[0])

    def read_version(self, spark: SparkSession, stage: str, version: int) -> DataFrame:
        """Snapshot time travel: read a specific committed version."""
        rec = dict(self._commits(stage)).get(version)
        if rec is None:
            raise FileNotFoundError(f"stage {stage!r} has no committed v{version}")
        return read_committed(spark, self._data_dir(stage, version), rec)

    def versions(self, stage: str) -> list[int]:
        """All committed versions (any config hash), ascending."""
        return [v for v, _ in self._commits(stage)]

    def write(
        self, spark: SparkSession, stage: str, df: DataFrame
    ) -> tuple[DataFrame, StageResult]:
        t0 = time.monotonic()
        stage_dir = self.root / stage
        log = self._log_dir(stage)
        stage_dir.mkdir(parents=True, exist_ok=True)
        log.mkdir(parents=True, exist_ok=True)
        commits = self._commits(stage)
        version = (commits[-1][0] + 1) if commits else 1
        tmp = stage_dir / f"_tmp_v{version:08d}"
        if tmp.exists():
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(str(tmp))
        import pyarrow.parquet as pq

        partition_counts = [
            pq.ParquetFile(p).metadata.num_rows
            for p in sorted(tmp.glob("part-*.parquet"))
        ]
        rows = int(sum(partition_counts))
        data = self._data_dir(stage, version)
        if data.exists():  # a crashed earlier attempt that never committed
            shutil.rmtree(data)
        tmp.rename(data)
        wall = time.monotonic() - t0
        record = {
            "stage": stage,
            "version": version,
            "complete": True,
            "config_hash": self.config_hash,
            "rows": rows,
            "wall_sec": wall,
            "partition_counts": partition_counts,
            "schema": json.loads(df.schema.json()),
        }
        # commit point: write-then-rename so a torn write is never visible
        tmp_rec = log / f".{version:08d}.json.tmp"
        tmp_rec.write_text(json.dumps(record))
        os.replace(tmp_rec, log / f"{version:08d}.json")
        return (
            self.read_version(spark, stage, version),
            StageResult(stage, rows, wall, partition_counts, skipped=False),
        )

    def get_or_compute(
        self, spark: SparkSession, stage: str, compute
    ) -> tuple[DataFrame, StageResult]:
        if self.has(stage):
            meta = self.manifest(stage)
            return (
                self.read(spark, stage),
                StageResult(
                    stage,
                    meta["rows"],
                    0.0,
                    meta.get("partition_counts", []),
                    skipped=True,
                ),
            )
        return self.write(spark, stage, compute())
