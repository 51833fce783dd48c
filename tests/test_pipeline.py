"""run_warehouse's file registry (pipeline_file_metadata): one rewrite
per status transition whatever the number of files, every pending file
FAILED after a stage error and recovered by the next run, unchanged
re-deliveries skipped."""

from __future__ import annotations

import pytest

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.plans import medallion
from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse
from teleco_etl_pipeline_spark.sources import files as fsrc
from teleco_etl_pipeline_spark.sources.state import FileRegistry
from tests.conftest import CSV_HEADER, _row, write_ingest_csv

FILES = ["churn_a.csv", "churn_b.csv", "churn_c.csv"]
CLEAN_ROWS = 10 + 2 * 3  # write_ingest_csv's clean rows + 3 per extra file


def _deliver(landing: str) -> None:
    """Three files with disjoint customers; the first carries every
    dirty-row case."""
    write_ingest_csv(f"{landing}/{FILES[0]}")
    for name in FILES[1:]:
        rows = [_row(f"3000-{name[6]}{i}") for i in range(3)]
        with open(f"{landing}/{name}", "w") as f:
            f.write(CSV_HEADER + "\n" + "\n".join(rows) + "\n")


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    _deliver(str(d))
    return str(d)


@pytest.fixture()
def registry_writes(monkeypatch):
    """Tables rewritten under the meta layer, one entry per rewrite."""
    writes: list[str] = []
    real = Warehouse.overwrite_safe

    def counting(self, df, layer, table):
        if layer == "meta":
            writes.append(table)
        return real(self, df, layer, table)

    monkeypatch.setattr(Warehouse, "overwrite_safe", counting)
    return writes


def _registry(spark, wh_root: str) -> dict[str, str]:
    rows = FileRegistry(Warehouse(spark, wh_root)).load().collect()
    return {r["file_name"]: r["status"] for r in rows}


def test_registry_rewritten_once_per_transition(spark, tmp_path, landing, registry_writes):
    wh_root = str(tmp_path / "wh")
    report = run_warehouse(spark, wh_root, landing, run_date="2026-08-13")
    assert report["status"] == "SUCCESS"
    assert report["files"] == [{"file": n, "status": "ARCHIVED"} for n in FILES]
    # PROCESSING, SUCCESS, ARCHIVED: 3 rewrites for 3 files, not 9
    assert registry_writes == [FileRegistry.TABLE] * 3
    assert _registry(spark, wh_root) == dict.fromkeys(FILES, "ARCHIVED")

    # the same files delivered again: every one skipped, no rewrite
    _deliver(landing)
    report = run_warehouse(spark, wh_root, landing, run_date="2026-08-14")
    assert report["status"] == "SKIPPED_NO_NEW_DATA"
    assert report["files"] == [{"file": n, "status": "SKIPPED"} for n in FILES]
    assert len(registry_writes) == 3


def test_stage_failure_marks_every_file_failed_then_rerun_recovers(
    spark, tmp_path, landing, registry_writes, monkeypatch
):
    wh_root = str(tmp_path / "wh")

    def broken(*args, **kwargs):
        raise RuntimeError("injected fact failure")

    with monkeypatch.context() as m:
        m.setattr(medallion, "build_fact", broken)
        with pytest.raises(RuntimeError, match="injected"):
            run_warehouse(spark, wh_root, landing, run_date="2026-08-13")
    # PROCESSING, then one FAILED rewrite for all three files
    assert len(registry_writes) == 2
    rows = FileRegistry(Warehouse(spark, wh_root)).load().collect()
    assert {r["file_name"]: r["status"] for r in rows} == dict.fromkeys(FILES, "FAILED")
    assert all("injected" in r["error_message"] for r in rows)

    report = run_warehouse(spark, wh_root, landing, run_date="2026-08-13")
    assert report["status"] == "SUCCESS"
    assert report["gold_fact_rows"] == CLEAN_ROWS
    assert _registry(spark, wh_root) == dict.fromkeys(FILES, "ARCHIVED")


def test_archive_failure_still_records_moved_files(spark, tmp_path, landing, monkeypatch):
    wh_root = str(tmp_path / "wh")
    real = fsrc.archive_file

    def fail_on_second(path, archive_dir, suffix):
        if path.endswith(FILES[1]):
            raise OSError("disk full")
        return real(path, archive_dir, suffix)

    monkeypatch.setattr(fsrc, "archive_file", fail_on_second)
    with pytest.raises(OSError, match="disk full"):
        run_warehouse(spark, wh_root, landing, run_date="2026-08-13")
    assert _registry(spark, wh_root) == {
        FILES[0]: "ARCHIVED", FILES[1]: "SUCCESS", FILES[2]: "SUCCESS"
    }
