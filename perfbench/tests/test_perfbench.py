"""The benchmark's own tests: the checkers must report planted violations,
and every workload must run clean at smoke size.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, crawl, curation, env, run  # noqa: E402

# --- checkers: planted violations are reported ------------------------------


def test_over_budget_schedule_is_reported():
    budgets = {"a.example": checks.host_budget(500, 30_000, 8)}
    assert budgets["a.example"] == 8
    ok = {(1, "a.example"): 8}
    assert checks.budget_violations(ok, budgets, 8, {}) == []
    over = {(1, "a.example"): 9}
    assert checks.budget_violations(over, budgets, 8, {})
    # a host with no robots row falls back to the default budget
    assert checks.budget_violations({(1, "b.example"): 3}, budgets, 2, {})
    # half-open circuit: one probe; open circuit: none
    assert checks.budget_violations({(2, "a.example"): 2}, budgets, 8, {2: {"a.example": "half_open"}})
    assert checks.budget_violations({(2, "a.example"): 1}, budgets, 8, {2: {"a.example": "open"}})


def test_host_budget_arithmetic():
    assert checks.host_budget(5000, 30_000, 100) == 6
    assert checks.host_budget(0, 30_000, 100) == 100
    assert checks.host_budget(None, 30_000, 100) == 60
    assert checks.host_budget(100_000, 30_000, 100) == 1


def test_disallowed_fetch_is_reported():
    rules = {"h.example": ["/private", "/doc/7"]}
    fine = [(1, "h.example", "https://h.example/doc/8?id=8"), (1, "x.example", "https://x.example/private")]
    assert checks.robots_violations(fine, rules) == []
    bad = [(1, "h.example", "https://h.example/doc/70?id=70")]
    assert checks.robots_violations(bad, rules)
    assert checks.robots_violations([(1, "h.example", "https://h.example/private/a")], rules)


def test_duplicate_fetch_is_reported():
    assert checks.duplicate_fetches([(1, 5), (2, 5)]) == []
    assert checks.duplicate_fetches([(1, 5), (1, 5)])


def test_fingerprint_log(tmp_path):
    log = checks.FingerprintLog(str(tmp_path / "fp.json"))
    assert checks.fingerprint([(1, 2), (3, 4)]) == checks.fingerprint([(3, 4), (1, 2)])
    assert log.check("k", "aa") == []
    assert log.check("k", "aa") == []
    assert log.check("k", "bb")


def test_leak_rule():
    before = {1}
    assert env.leaked(before, {1}, set()) == []
    assert env.leaked(before, {1, 2}, set())
    ring = {2, 3}
    assert env.leaked(before, before | ring, ring) == []
    assert env.leaked(before, before | ring | {99}, ring)


# --- Spark-backed ----------------------------------------------------------


@pytest.fixture()
def session_env(monkeypatch):
    """Undo what ``env.start_session`` sets for the process: it points temp
    files into a run dir that is removed after the test."""
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    for var in ("TMPDIR", "SPARK_LAUNCHER_OPTS", "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEMORY", "PYTHONPATH"):
        monkeypatch.delenv(var, raising=False)


@pytest.fixture()
def small(monkeypatch, tmp_path, session_env):
    """Smoke-size workloads; fingerprints kept in a temp dir. The runs of
    this module share one JVM, which ``test_no_process_is_left`` ends: a
    module-level UDF keeps a handle into the JVM it was first used with."""
    monkeypatch.setattr(env, "stop_jvm", lambda: None)
    # budget scaled down with the web, so no host runs dry into the backlog
    spec = dataclasses.replace(crawl.SPEC, web_docs=2000, backlog_rows=3000, max_per_host=2)
    monkeypatch.setattr(crawl, "SPEC", spec)
    monkeypatch.setattr(crawl, "SETUP_REPS", 1)
    monkeypatch.setattr(crawl, "MIN_ROUNDS", 2)
    monkeypatch.setattr(curation, "SETUP_REPS", 1)
    monkeypatch.setattr(curation, "DOCS", 400)
    monkeypatch.setattr(curation, "VECTORS", 200)
    monkeypatch.setattr(run, "STATE_DIR", str(tmp_path / "state"))
    yield tmp_path
    shutil.rmtree(os.path.join(ROOT, env.TMP_PARENT), ignore_errors=True)


def _run(capsys, *args) -> dict:
    assert run.main(list(args)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["crawl_backlog", "curation"])
def test_smoke_run(small, capsys, workload):
    spec = run.load_spec()
    out = _run(capsys, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert all(v["value"] > 0 for v in out["metrics"].values())
    # the traced run repeats the seed: its output fingerprints must match
    out = _run(capsys, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1")
    assert out["correct"], out
    assert list(out["metrics"]) == [m["name"] for m in spec["per_layer"]]
    # nothing left in the checkout but empty Spark local dirs: sessions after
    # the first in one process reuse the JVM, which keeps the first
    # SPARK_LOCAL_DIRS and recreates it (a benchmark run has one session)
    left = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(ROOT, env.TMP_PARENT)) for f in fs]
    assert left == []


def test_leaked_cache_is_counted(small, capsys, monkeypatch):
    """A cache left behind by a timed query fails the run."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    real = curation.QUERIES
    calls = itertools.count()

    def leaky(spark, sf_dir):
        # a distinct plan per call, so no call is served from an earlier cache
        df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", F.lit(next(calls)).alias("n"))
        df.persist().count()
        return df

    queries = entry.queries()
    monkeypatch.setattr(entry, "queries", lambda: {**queries, "leaky": leaky})
    monkeypatch.setattr(curation, "QUERIES", (*real[-1:], "leaky"))
    out = _run(capsys, "--workload", "curation", "--seed", "4", "--seconds", "1", "--trace", "0")
    assert not out["correct"] and out["failed"] >= 1


def test_bare_directory_fails(tmp_path):
    import subprocess

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""


def test_no_process_is_left(tmp_path, session_env):
    """The JVM and its Python workers exit before a run does."""
    spark = env.start_session(ROOT, str(tmp_path), 2)
    # a Python UDF task starts the JVM's Python worker daemon
    assert spark.sparkContext.parallelize(range(4), 2).map(lambda x: x + 1).sum() == 10
    env.stop_session(spark)
    env.stop_jvm()
    assert env.descendants(os.getpid()) == [os.getpid()]
