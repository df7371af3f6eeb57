"""Self-tests of the benchmark's attribution, oracle check, tracing and
determinism guard.  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fixtures, harness, oracle  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from mahout_samsara_book_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fixtures"))
    fixtures.write_fixtures(d, seed=7)
    return d


def test_fixtures_repeat_for_a_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    fixtures.write_fixtures(str(a), seed=3)
    fixtures.write_fixtures(str(b), seed=3)
    for name in os.listdir(a):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name


def test_one_barrier_and_one_sink_job(spark, sf_dir):
    def known(s, _sf_dir):
        s.sparkContext.parallelize(range(10), 2).count()  # eager barrier
        return s.range(0, 100, 1, 2)

    runner = harness.Runner(spark, sf_dir, {"known": known})
    try:
        rec, _ = runner.query("known", harness._noop_sink)
    finally:
        runner.close()
    tracker = spark.sparkContext.statusTracker()
    build = tracker.getJobIdsForGroup("perfbench:known:build")
    sink = tracker.getJobIdsForGroup("perfbench:known:sink")
    assert "error" not in rec
    assert rec["barrier_jobs"] == 1 == len(build)
    assert rec["jobs"] == 2 == len(build) + len(sink)


def test_available_now_epochs_are_counted(spark, sf_dir, tmp_path):
    src = tmp_path / "src"

    def streamed(s, _sf_dir):
        for i in range(3):
            s.range(i * 10, i * 10 + 10, 1, 1).write.mode("append").parquet(str(src))
        q = (
            s.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive
        return s.range(1)

    runner = harness.Runner(spark, sf_dir, {"streamed": streamed})
    try:
        rec, _ = runner.query("streamed", harness._noop_sink)
    finally:
        runner.close()
    assert "error" not in rec
    assert rec["epochs"] == 3


def test_corrupted_output_counts_as_failed(spark, sf_dir):
    import __spark_entry__ as entry
    from mahout_samsara_book_spark.sources.tables import TABLES

    registry = entry.queries()

    def broken(s, d):
        raise RuntimeError("boom")

    names = ("drm_colsums", "rel_upsert")
    registry = {**{n: registry[n] for n in names}, "broken": broken}
    runner = harness.Runner(spark, sf_dir, registry)
    try:
        results = runner.run_pass(names + ("broken",), harness._collect_sink)
    finally:
        runner.close()
    oracles = {**entry.oracle_sql(), "broken": "SELECT 1"}
    con = oracle.connect(sf_dir, TABLES)
    try:
        assert harness.check_outputs(results[:2], oracles, con) == {}
        rec, out = results[0]
        corrupted = out.copy()
        corrupted.iloc[0, -1] = "9.9999999e+99"
        failures = harness.check_outputs(
            [(rec, corrupted), results[1], results[2]], oracles, con
        )
    finally:
        con.close()
    assert set(failures) == {"drm_colsums", "broken"}
    assert "differ" in failures["drm_colsums"]


def test_tracer_rebinds_imported_references(spark, sf_dir):
    import __spark_entry__ as entry
    from mahout_samsara_book_spark.sources import tables

    original = tables.load_table
    assert entry.load_table is original  # imported by name before tracing
    tracer = Tracer(harness.PACKAGE)
    tracer.install()
    try:
        assert entry.load_table is tables.load_table is not original
        entry.load_table(spark, sf_dir, "region")
        self_s, calls = tracer.take()
    finally:
        tracer.uninstall()
    assert entry.load_table is tables.load_table is original
    assert calls["sources"] >= 1 and self_s["sources"] > 0


def test_tracing_launches_no_jobs(spark, sf_dir):
    import __spark_entry__ as entry

    registry = entry.queries()
    runner = harness.Runner(spark, sf_dir, registry)
    try:
        runner.run_pass(["dridge"], harness._noop_sink)  # warm the query
        (plain, _), = runner.run_pass(["dridge"], harness._noop_sink)
        (traced, _), = runner.run_pass(["dridge"], harness._noop_sink, traced=True)
    finally:
        runner.close()
    assert traced["jobs"] == plain["jobs"] > 0
    assert traced["calls"]["algorithms"] >= 1


def test_determinism_drift_is_reported():
    rec = {"query": "q", "jobs": 2, "barrier_jobs": 1,
           "shuffle_write_bytes": 10, "epochs": 0}
    assert harness.determinism_drift([[rec], [dict(rec)]]) == []
    drift = harness.determinism_drift([[rec], [{**rec, "shuffle_write_bytes": 11}]])
    assert len(drift) == 1 and drift[0].startswith("q:")


def test_run_timeout_is_not_counted_as_a_failed_query(spark, sf_dir):
    from perfbench.run import _Timeout

    def slow(_s, _sf_dir):
        raise _Timeout("run exceeded its limit")

    runner = harness.Runner(spark, sf_dir, {"slow": slow})
    try:
        with pytest.raises(_Timeout):
            runner.query("slow", harness._noop_sink)
    finally:
        runner.close()


def test_ledger_keys_runs_by_cores_and_reports_drift(tmp_path, monkeypatch):
    from perfbench import run

    monkeypatch.setattr(run, "WORK_ROOT", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    key8 = run._ledger_key("w", 1, 0.01, ("q",))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert run._ledger_key("w", 1, 0.01, ("q",)) != key8
    assert run._ledger_check(key8, {"q": [2, 1, 10, 0]}) == []
    assert run._ledger_check(key8, {"q": [2, 1, 10, 0]}) == []
    assert len(run._ledger_check(key8, {"q": [1, 1, 10, 0]})) == 1
