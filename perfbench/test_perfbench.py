"""Benchmark self-tests: a tiny-size smoke of every workload emits every
named metric with its unit, and the output checks catch a wrong result
and a failing table. One shared session, so the JVM starts once:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, workloads as wl  # noqa: E402


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    from eirepolitic_data_pipeline_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = str(tmp_path_factory.mktemp("perfbench"))
    log_dir = os.path.join(work, "eventlog")
    spark = get_spark("perfbench-tests", cores=run.CORES,
                      extra_conf=run.session_conf(work, log_dir))
    yield spark, log_dir
    spark.stop()


def _measure(session, tmp_path, workload, trace, **ctx_kw):
    spark, log_dir = session
    corrupt = ctx_kw.pop("corrupt", ())
    ctx = wl.Ctx(spark=spark, work=str(tmp_path), seed=7, seconds=0.0,
                 sizes=wl.SIZES["smoke"], cores=run.CORES, **ctx_kw)
    res = wl.Result(corrupt=corrupt)
    return run.measure(ctx, workload, res, log_dir if trace else None,
                       setup_s=1.0, get_spark_s=1.0)


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric(session, tmp_path, workload, trace):
    out, detail = _measure(session, tmp_path, workload, trace)
    assert out["correct"], detail["errors"]
    assert out["failed"] == 0 and out["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert set(out["metrics"]) == set(want)
    for name, unit in want.items():
        value = out["metrics"][name]["value"]
        assert out["metrics"][name]["unit"] == unit
        assert isinstance(value, float) and value >= 0, name
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "curation":
        # every operator layer runs in each warm pass
        for op in ("similarity", "vectors", "dedupe", "curation"):
            assert out["metrics"][f"operators.{op}.call_s"]["value"] > 0, op
    elif workload == "refresh":
        assert out["metrics"]["tables.silver_task_s"]["value"] > 0
        assert out["metrics"]["tables.gold_task_s"]["value"] > 0
        # the live feed is drained in every cycle
        assert out["metrics"]["streaming.add_batch_s"]["value"] > 0
    assert detail["host.sentinel_s"] > 0


def test_corrupted_expected_result_counts_as_failed(session, tmp_path):
    out, detail = _measure(session, tmp_path, "curation", 0,
                           corrupt=("q22_exact_dedup_fingerprint",))
    assert not out["correct"] and out["failed"] > 0
    assert detail["failed_ratio"] > 0
    assert any("q22" in e and "oracle" in e for e in detail["errors"])


def test_failing_table_counts_as_failed(session, tmp_path):
    # no raw payload feeds silver_questions, so its build raises
    tables = (*wl.REFRESH_TABLES, "silver_questions")
    out, detail = _measure(session, tmp_path, "refresh", 0,
                           refresh_tables=tables)
    assert not out["correct"] and 0 < out["failed"] < out["attempted"]
    assert detail["failed_ratio"] > 0


def test_stream_check_catches_duplicates_and_wrong_fields():
    want = [(1, 10, "view", 5, 1.5), (2, 11, "click", 6, 2.5)]
    assert wl.check_stream(list(want), want) is None
    # a re-delivered event kept twice, one lost, one field wrong
    assert wl.check_stream(sorted(want + want[:1]), want)
    assert wl.check_stream(want[:1], want)
    assert wl.check_stream([want[0], (2, 11, "view", 6, 2.5)], want)


def test_cli_without_program_exits_nonzero(tmp_path):
    import shutil
    import subprocess

    bench = tmp_path / "perfbench"
    shutil.copytree(os.path.dirname(os.path.abspath(__file__)), bench,
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "refresh",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""
