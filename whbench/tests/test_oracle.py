"""The expected-count oracle against the real pipeline, at a tiny size."""

import os

import pytest

import checks
import gen
import spans


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from teleco_etl_pipeline_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(
        app_name="whbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp / "spark-warehouse"),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_oracle_matches_run_warehouse(spark, tmp_path):
    from teleco_etl_pipeline_spark.catalog import Warehouse
    from teleco_etl_pipeline_spark.plans import dq_corpus, pipeline, reprocess

    sc = gen.churn_scenario(3, 300, 2, 60, 2, 30)
    root = str(tmp_path / "wh")
    sc.day1.write(str(tmp_path / "day1"))
    sc.day2.write(str(tmp_path / "day2"))
    sc.fix.write(str(tmp_path / "fix"))

    out = checks.Outcomes()
    rep1 = pipeline.run_warehouse(spark, root, str(tmp_path / "day1"), run_id="d1", run_date="2024-01-01")
    want1, silver1 = checks.expected_run(sc.day1, {})
    checks.check_run(out, "day1", rep1, want1, sc.day1)

    rep2 = pipeline.run_warehouse(spark, root, str(tmp_path / "day2"), run_id="d2", run_date="2024-01-02")
    want2, silver2 = checks.expected_run(sc.day2, silver1)
    checks.check_run(out, "day2", rep2, want2, sc.day2)
    assert want2["staging"]["dup_vs_bronze"] > 0  # re-delivered IDs exercised

    wh = Warehouse(spark, root)
    fixed = os.path.join(str(tmp_path / "fix"), next(iter(sc.fix.files)))
    rep3 = reprocess.reprocess_fixed_file(wh, fixed, quarantine_dir=str(tmp_path / "rej"), run_date="2024-01-02")
    checks.check_reprocess(out, rep3, sc, len(silver2))
    checks.check_registry(out, wh, len(sc.day1.files) + len(sc.day2.files))
    checks.check_silver(out, wh, sc, silver2)
    expect = {f"{c.section}.{c.name}" for c in dq_corpus.all_checks() if c.expect}
    checks.check_corpus(out, dq_corpus.run_corpus(wh), expect)
    assert out.failures == []
    assert out.attempted > 40

    # The checks bite: a silver missing one correction is caught.
    cid = next(iter(sc.corrected))
    sc.corrected[cid] = (sc.corrected[cid][0] + 1, sc.corrected[cid][1])
    bad = checks.Outcomes()
    checks.check_silver(bad, wh, sc, silver2)
    assert bad.failed == 1 and "corrected_values" in bad.failures[0]


def test_job_group_attribution_on_spark(spark):
    sc = spark.sparkContext
    sc.setLocalProperty(spans.GROUP_PROP, None)
    counters = spans.SparkCounters(spark)
    tracer = spans.Tracer(sc)

    def job_then_fail():
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        raise RuntimeError("after the job")

    first = counters.mark()
    with pytest.raises(RuntimeError):
        with tracer.span("outer"):
            tracer.wrap("inner", job_then_fail)()
    spark.range(10).count()  # runs with the caller's (empty) group again
    assert sc.getLocalProperty(spans.GROUP_PROP) is None
    work = counters.read(first, counters.mark())
    inner = tracer.spans[1].group
    assert work[inner].jobs >= 1 and work[inner].cpu_s > 0
    assert work[None].jobs >= 1
    assert tracer.spans[0].group not in work
