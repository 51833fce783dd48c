"""Pipeline state stores: file-metadata registry and watermarks
(SURVEY.md §2.8 M2/M7, §2.10 St1, §2.12 C5/C6).

Both are tiny Parquet tables mutated through the same merge operator
as the data tables — the state machine semantics of the reference
(PENDING→PROCESSING→SUCCESS/FAILED→ARCHIVED; watermark advances only
after sink success) live in the callers (plans/pipeline.py,
plans/extract.py).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import META_SCHEMA, WATERMARK_SCHEMA, Warehouse
from teleco_etl_pipeline_spark.operators.upsert import merge_upsert

STATUSES = ("PENDING", "PROCESSING", "SUCCESS", "FAILED", "ARCHIVED")


class FileRegistry:
    """pipeline_file_metadata (DataWarehouse.py:36-50,75-147) on Parquet.

    File-level idempotency: a file whose (name, md5) is already
    SUCCESS/ARCHIVED is skipped by the ingest stage — the reference's
    cheap change-data-capture trick, kept verbatim because Spark has
    no native per-file checksum skip.
    """

    TABLE = "pipeline_file_metadata"

    def __init__(self, wh: Warehouse):
        self.wh = wh
        self.spark = wh.spark

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], META_SCHEMA)

    def load(self) -> DataFrame:
        if self.wh.exists("meta", self.TABLE):
            return self.wh.read("meta", self.TABLE)
        return self._empty()

    def upsert(self, rows: list[dict]) -> None:
        """M2: keyed upsert on file_name."""
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        for r in rows:
            r.setdefault("created_at", now)
            r["processed_at"] = now
        src = self.spark.createDataFrame(
            [
                tuple(r.get(f.name) for f in META_SCHEMA.fields)
                for r in rows
            ],
            META_SCHEMA,
        )
        merged = merge_upsert(
            self.load(),
            src,
            keys=["file_name"],
            update_cols=[
                "file_path",
                "file_size_bytes",
                "row_count",
                "status",
                "error_message",
                "processed_at",
                "run_id",
                "checksum_md5",
            ],
        )
        self.wh.overwrite_safe(merged, "meta", self.TABLE)

    def set_status(self, file_name: str, status: str, error: str | None = None) -> None:
        """M7: conditional status update."""
        self.set_statuses([file_name], status, error)

    def set_statuses(
        self, file_names: list[str], status: str, error: str | None = None
    ) -> None:
        """One status transition for several files: one registry rewrite."""
        if status not in STATUSES:
            raise ValueError(f"unknown file status {status!r}")
        self.upsert(
            [{"file_name": n, "status": status, "error_message": error} for n in file_names]
        )

    def statuses(self, file_names: list[str]) -> dict[str, tuple[str, str]]:
        """file_name -> (status, checksum_md5) for those of ``file_names``
        that are registered, in one collect."""
        rows = (
            self.load()
            .filter(F.col("file_name").isin(file_names))
            .select("file_name", "status", "checksum_md5")
            .collect()
        )
        return {r[0]: (r[1], r[2]) for r in rows}

    def status_of(self, file_name: str) -> tuple[str, str] | None:
        return self.statuses([file_name]).get(file_name)

    @staticmethod
    def is_done(current: tuple[str, str] | None, checksum: str) -> bool:
        """C5: a file already successfully processed, unchanged."""
        return (
            current is not None
            and current[0] in ("SUCCESS", "ARCHIVED")
            and current[1] == checksum
        )

    def should_skip(self, file_name: str, checksum: str) -> bool:
        """C5: skip files already successfully processed, unchanged."""
        return self.is_done(self.status_of(file_name), checksum)


class WatermarkStore:
    """Scalar watermarks with advance-only-on-success contract (St1,
    churn_export_dag_cloude.py:389-393,568)."""

    TABLE = "watermarks"
    DEFAULT = "1970-01-01 00:00:00"

    def __init__(self, wh: Warehouse):
        self.wh = wh
        self.spark = wh.spark

    def get(self, name: str) -> str:
        if not self.wh.exists("meta", self.TABLE):
            return self.DEFAULT
        rows = (
            self.wh.read("meta", self.TABLE)
            .filter(F.col("name") == name)
            .select("value")
            .collect()
        )
        return rows[0][0] if rows else self.DEFAULT

    def advance(self, name: str, value: str) -> None:
        """Called ONLY after the sink write succeeded."""
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        src = self.spark.createDataFrame([(name, value, now)], WATERMARK_SCHEMA)
        current = (
            self.wh.read("meta", self.TABLE)
            if self.wh.exists("meta", self.TABLE)
            else self.spark.createDataFrame([], WATERMARK_SCHEMA)
        )
        merged = merge_upsert(current, src, keys=["name"])
        self.wh.overwrite_safe(merged, "meta", self.TABLE)
