"""The one query runner (``streamroom_bigdata_spark.instrument``) behind
bench.py, profile_query, shuffle_audit and check_oracle: both actions agree,
its job-group counts equal the status store's count of new jobs, a raising
query or a failed layout prep is recorded and the session keeps serving,
runs leave no storage behind, and the tools built on it import without
reading the importer's argv. Also: materialization goes through
``functions.reliability.materialize`` only, and its reliable mode."""

from __future__ import annotations

import ast
import importlib
import os
import pathlib
import sys

import pytest

from streamroom_bigdata_spark import instrument, registry
from streamroom_bigdata_spark.instrument import Runner

PKG = pathlib.Path(instrument.__file__).parent
#: calls that materialize a DataFrame, allowed only in the helper
MATERIALIZING = {"localCheckpoint", "cache", "persist", "checkpoint"}
#: top-level functions that persist a frame and unpersist it themselves
SELF_RELEASING = {
    ("streaming/neardup.py", "streaming_neardup_sink"),
    ("operators/incdedup.py", "incremental_neardup_pairs"),
}


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


def _calls(tree):
    """(top-level function name or None, called attribute name) per call."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                yield owner, node.func.attr


def test_no_raw_materialization():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "functions/reliability.py":
            continue
        calls = list(_calls(ast.parse(path.read_text())))
        releases = {owner for owner, attr in calls if attr == "unpersist"}
        for owner, attr in calls:
            if attr not in MATERIALIZING:
                continue
            if (
                attr == "persist"
                and (rel, owner) in SELF_RELEASING
                and owner in releases
            ):
                continue
            bad.append(f"{rel}:{owner}: .{attr}()")
    assert not bad, "use functions.reliability.materialize: " + ", ".join(bad)


def test_runs_leave_no_storage_behind(spark, sf_dir):
    names = ["near_dup_pairs", "pca_power_iteration", "gmm_em_1d"]
    with pytest.MonkeyPatch.context() as mp:
        r = _runner(mp, spark, sf_dir, names)
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # earlier tests' caches are not these runs'
    before = set(jsc.getPersistentRDDs().keySet())
    for name in names:
        run = r.run(name)
        assert run.error is None and run.rows > 0, name
    assert set(jsc.getPersistentRDDs().keySet()) == before
    assert cache.isEmpty()


def test_reliable_mode_at_a_formerly_local_only_site(
    spark, sf_dir, reliable_checkpoints
):
    query = registry.queries()["theil_sen_daily_trend"]
    local = query(spark, sf_dir).collect()
    ckdir = reliable_checkpoints()
    reliable = query(spark, sf_dir).collect()
    assert reliable == local and len(local) == 1
    assert any(os.scandir(ckdir)), "reliable checkpoint dir is empty"
