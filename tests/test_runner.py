"""The one query runner (``streamroom_bigdata_spark.instrument``) behind
bench.py, profile_query, shuffle_audit and check_oracle: both actions agree,
its job-group counts equal the status store's count of new jobs, a raising
query or a failed layout prep is recorded and the session keeps serving,
and the tools built on it import without reading the importer's argv."""

from __future__ import annotations

import importlib
import sys

import pytest

from streamroom_bigdata_spark import instrument
from streamroom_bigdata_spark.instrument import Runner


def _runner(mp, spark, sf_dir, roster) -> Runner:
    # the runner's own get_spark would re-apply its runtime confs to the
    # shared test session; hand it that session as it is
    mp.setattr(instrument, "get_spark", lambda *a, **k: spark)
    return Runner(sf_dir, roster)


@pytest.fixture(scope="module")
def runner(spark, sf_dir):
    with pytest.MonkeyPatch.context() as mp:
        return _runner(mp, spark, sf_dir, ["pricing_summary", "theil_sen_daily_trend"])


def _newest_job_id(spark) -> int:
    """Id of the newest job in the status store (``jobsList`` is newest
    first); job ids are allocated one by one, so the difference of two
    readings is the number of jobs submitted in between."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(spark._jvm.java.util.Collections.emptyList())
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_count_and_collect_agree(runner):
    counted = runner.run("pricing_summary")
    collected = runner.run("pricing_summary", action="collect")
    assert counted.error is None and collected.error is None
    assert counted.rows == collected.rows == len(collected.collected) > 0
    assert counted.collected is None
    assert counted.columns == collected.columns
    with pytest.raises(ValueError):
        runner.run("pricing_summary", action="show")


@pytest.mark.parametrize(
    "name, eager", [("pricing_summary", False), ("theil_sen_daily_trend", True)]
)
def test_group_jobs_equal_status_store_delta(runner, name, eager):
    before = _newest_job_id(runner.spark)
    r = runner.run(name)
    delta = _newest_job_id(runner.spark) - before
    assert r.error is None
    assert r.jobs == delta == len(r.job_rows) >= 1
    assert r.build_jobs == sum(j["build"] for j in r.job_rows)
    # theil_sen materializes its day table while the DataFrame is built
    assert (r.build_jobs >= 1) if eager else (r.build_jobs == 0)
    assert r.build_s > 0 and r.exec_s > 0


def test_raising_query_is_recorded_and_session_survives(runner):
    bad = runner.run("pricing_summary", sf_dir="/nonexistent/sf_dir")
    assert bad.error is not None and bad.rows is None
    assert runner.spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    good = runner.run("pricing_summary")
    assert good.error is None and good.rows > 0


def test_failed_prep_is_each_dependent_runs_error(monkeypatch, spark, sf_dir):
    def broken(spark, sf_dir):
        raise RuntimeError("bucketed write failed")

    monkeypatch.setitem(instrument._PREP, "bucketed", broken)
    r = _runner(
        monkeypatch, spark, sf_dir, ["pricing_summary", "star_join_bucketed"]
    )
    for name in ("star_join_bucketed", "sql_revenue_share"):
        bad = r.run(name)
        assert isinstance(bad.error, RuntimeError) and bad.rows is None
    good = r.run("pricing_summary")
    assert good.error is None and good.rows > 0


@pytest.mark.parametrize("module", ["tools.check_oracle", "tools.shuffle_audit"])
def test_tools_import_without_parsing_argv(monkeypatch, module):
    monkeypatch.setattr(sys, "argv", ["prog", "junk", "--json"])
    monkeypatch.delitem(sys.modules, module, raising=False)
    importlib.import_module(module)
