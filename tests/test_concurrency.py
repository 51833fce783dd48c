"""Concurrent evaluation of independent Spark actions
(``session.run_concurrently``): the DQ corpus and the gold dims must
give the same results as a sequential evaluation, and every job they
issue must carry the caller's job group."""

from __future__ import annotations

import sys
import threading

import pytest

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.plans import dq_corpus, medallion
from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse
from teleco_etl_pipeline_spark.session import run_concurrently
from tests.conftest import write_ingest_csv

DIMS = ("dim_contract", "dim_payment_method", "dim_churn_reason", "dim_customer", "dim_services")


@pytest.fixture(scope="module")
def built_wh(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("concurrency")
    landing = tmp / "landing"
    landing.mkdir()
    write_ingest_csv(str(landing / "churn.csv"))
    run_warehouse(spark, str(tmp / "wh"), str(landing), run_date="2026-08-13")
    return Warehouse(spark, str(tmp / "wh"))


def _jobs_in_group(spark, group: str, fn) -> tuple[set[int], set[int]]:
    """Run ``fn`` under job group ``group``; return (ids of every job
    submitted meanwhile, ids the status tracker files under the group)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    first = int(jsc.dagScheduler().numTotalJobs())
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "concurrency test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    end = int(jsc.dagScheduler().numTotalJobs())
    jsc.listenerBus().waitUntilEmpty(60_000)
    return set(range(first, end)), set(sc.statusTracker().getJobIdsForGroup(group))


def _dims(wh: Warehouse) -> dict[str, list]:
    return {d: sorted(tuple(r) for r in wh.read("gold", d).collect()) for d in DIMS}


def test_run_concurrently_keeps_order_and_raises_after_all_end(spark):
    assert run_concurrently(spark, []) == []
    assert run_concurrently(spark, [lambda i=i: i * i for i in range(9)]) == [i * i for i in range(9)]

    finished = []

    def boom():
        raise ValueError("boom")

    def slow():
        spark.range(10).count()
        finished.append(True)

    with pytest.raises(ValueError, match="boom"):
        run_concurrently(spark, [boom, slow, slow])
    assert finished == [True, True]


def test_run_concurrently_stress_keeps_job_groups(spark):
    """More thunks than worker threads, with a short switch interval:
    every job still lands in the caller's group and every result comes
    back in input order."""
    n = 4 * spark.sparkContext.defaultParallelism
    thunks = [lambda i=i: spark.range(i + 1).count() for i in range(n)]
    results: list = []
    groups: list = []

    def work():
        run = lambda: results.extend(run_concurrently(spark, thunks))  # noqa: E731
        groups.append(_jobs_in_group(spark, "stress-group", run))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        worker = threading.Thread(target=work, daemon=True)
        worker.start()
        worker.join(timeout=180)
    finally:
        sys.setswitchinterval(interval)
    assert not worker.is_alive()
    assert results == [i + 1 for i in range(n)]
    jobs, grouped = groups[0]
    assert len(jobs) >= n
    assert jobs == grouped


def test_corpus_matches_sequential_evaluation(built_wh):
    concurrent = dq_corpus.run_corpus(built_wh)
    sequential = {}
    for chk in dq_corpus.all_checks():
        rows = chk.build(built_wh).collect()
        sequential[f"{chk.section}.{chk.name}"] = (
            [r.asDict() for r in rows],
            chk.expect(rows) if chk.expect else None,
        )
    assert list(concurrent) == list(sequential)
    assert {k: (v["rows"], v["passed"]) for k, v in concurrent.items()} == sequential


def test_corpus_check_over_missing_table_is_skipped(spark, tmp_path):
    results = dq_corpus.run_corpus(Warehouse(spark, str(tmp_path / "empty")), sections=["fact"])
    assert len(results) == 7
    assert all(v["passed"] is None and v["rows"] is None and v["skipped"] for v in results.values())


def test_corpus_and_dim_jobs_keep_the_callers_job_group(spark, built_wh):
    jobs, grouped = _jobs_in_group(spark, "corpus-group", lambda: dq_corpus.run_corpus(built_wh))
    assert len(jobs) >= 40 and jobs == grouped
    jobs, grouped = _jobs_in_group(spark, "dims-group", lambda: medallion.build_dims(built_wh))
    assert len(jobs) >= 5 and jobs == grouped


def test_repeated_build_dims_is_identical(built_wh):
    before = _dims(built_wh)
    counts = [medallion.build_dims(built_wh) for _ in range(2)]
    assert counts[0] == counts[1] == {d: len(rows) for d, rows in before.items()}
    assert _dims(built_wh) == before
