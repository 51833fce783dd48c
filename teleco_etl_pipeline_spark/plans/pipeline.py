"""End-to-end warehouse driver (SURVEY.md §3.1: the
Data_Warehouse_Full_Pipeline DAG as a plain Python orchestration of
lazy DataFrame stages with value-check gates).

Stages (mirrors dags/DataWarehouse.py:879 task order):
  ingest CSVs → staging (validate/quarantine/dedup)
  → bronze upsert → bronze DQ gate
  → silver load → silver clean (circuit breaker)
  → gold dims + fact → gold DQ gate
  → archive + metadata bookkeeping

Returns a run-report dict (C7/C8 analogue) with per-stage counts.

The file registry is read once for every skip decision and rewritten
once per status transition, whatever the number of files: PROCESSING,
then SUCCESS and ARCHIVED (or FAILED) — three rewrites for a normal
run. Stages whose actions are independent (the gold dims, the DQ
corpus) overlap them through the one shared helper
``session.run_concurrently``.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.plans import medallion, quality
from teleco_etl_pipeline_spark.sources import files as fsrc
from teleco_etl_pipeline_spark.sources.state import FileRegistry


def run_warehouse(
    spark: SparkSession,
    warehouse_root: str,
    staging_dir: str,
    run_id: str | None = None,
    run_date: str | None = None,
    archive: bool = True,
) -> dict:
    """One full daily run. Idempotent: re-running with the same input
    files is a no-op (file checksum skip + keyed upserts + NOT-EXISTS
    fact guard)."""
    wh = Warehouse(spark, warehouse_root)
    registry = FileRegistry(wh)
    run_id = run_id or dt.datetime.now().strftime("run_%Y%m%d_%H%M%S")
    report: dict = {"run_id": run_id, "files": []}

    # --- file registration + checksum skip (C5) ---
    paths = fsrc.list_ingest_files(staging_dir)
    checksums = {p: fsrc.md5_file(p) for p in paths}
    known = registry.statuses([os.path.basename(p) for p in paths])
    todo: list[str] = []
    for path in paths:
        name = os.path.basename(path)
        if FileRegistry.is_done(known.get(name), checksums[path]):
            report["files"].append({"file": name, "status": "SKIPPED"})
        else:
            todo.append(path)

    if not todo:
        report["status"] = "SKIPPED_NO_NEW_DATA"  # C4 skip semantics
        return report

    names = [os.path.basename(p) for p in todo]
    registry.upsert(
        [
            {
                "file_name": n,
                "file_path": p,
                "file_size_bytes": os.path.getsize(p),
                "status": "PROCESSING",
                "run_id": run_id,
                "checksum_md5": checksums[p],
            }
            for n, p in zip(names, todo)
        ]
    )

    try:
        raw = (
            fsrc.read_csv_dir(spark, staging_dir)
            .filter(F.col("source_file").isin(names))
            .drop("source_file")
        )
        report["staging"] = medallion.load_staging(wh, raw)
        report["bronze"] = medallion.bronze_upsert(wh)
        quality.assert_checks_pass(wh.read("bronze", "churn_raw"))  # C2 gate
        report["silver_rows"] = medallion.silver_load(wh)
        report["silver_clean"] = medallion.silver_clean(wh)
        report["gold_dims"] = medallion.build_dims(wh)
        report["gold_fact_rows"] = medallion.build_fact(wh, run_date)
        report["gold_gate"] = medallion.gold_quality_gate(wh)
    except Exception as e:  # noqa: BLE001
        registry.set_statuses(names, "FAILED", str(e)[:500])
        raise

    # --- archive + final metadata (S13, M7) ---
    registry.set_statuses(names, "SUCCESS")
    done, status = names, "SUCCESS"
    if archive:
        done, status = _archive(registry, todo, staging_dir), "ARCHIVED"
    report["files"] += [{"file": n, "status": status} for n in done]
    report["status"] = "SUCCESS"
    return report


def _archive(registry: FileRegistry, paths: list[str], staging_dir: str) -> list[str]:
    """Move ``paths`` to ``staging_dir/archive`` and record them ARCHIVED
    in one registry write. Files already moved are recorded even if a
    later move fails."""
    suffix = dt.datetime.now().strftime("%Y%m%d_%H%M%S")
    archive_dir = os.path.join(staging_dir, "archive")
    archived: list[str] = []
    try:
        for p in paths:
            fsrc.archive_file(p, archive_dir, suffix)
            archived.append(os.path.basename(p))
    finally:
        if archived:
            registry.set_statuses(archived, "ARCHIVED")
    return archived
