"""The benchmark's own tests, at sf0.001.

    python -m pytest perfbench/tests -q        (from the repository root)

* every workload runs end to end through the command, traced and
  untraced, and prints exactly the metrics BENCHMARK.json declares;
* a deliberately corrupted output trips the workload's check;
* the traced run's event-log folder reproduces the status tracker's
  job and task counts (run.cross_check fails the run otherwise).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)
SF = 0.001


def _invoke(workload: str, trace: int) -> tuple[int, dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--sf", str(SF)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stderr


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_end_to_end(workload, trace):
    rc, out, err = _invoke(workload, trace)
    assert rc == 0, err[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    section = SPEC["per_layer" if trace else "end_to_end"]
    assert [m["name"] for m in section] == list(out["metrics"])
    for m in section:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_read", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    ctx = run.Ctx(argparse.Namespace(seed=5, sf=SF), str(tmp_path_factory.mktemp("s")))
    run.boot(ctx)
    yield ctx.spark, ctx.listener
    ctx.spark.stop()


def _round(session, tmp_path, name: str) -> list[dict]:
    """One round of ``name`` at sf0.001; returns the failed ops."""
    ctx = run.Ctx(argparse.Namespace(seed=5, sf=SF), str(tmp_path))
    ctx.spark, ctx.listener = session
    wl = workloads.make(name, SF)
    ctx.dataset = datagen.generate(ctx.sf_dir, 5, SF, wl.groups)
    wl.stage(ctx)
    wl.prepare(ctx)
    run.run_rounds(ctx, wl, 1, first_round=0)
    return [o for o in ctx.rec.ops if not o["ok"]]


def test_olap_check_catches_a_wrong_result(session, tmp_path, monkeypatch):
    from cubefs_hadoop_spark.queries import QUERIES

    orig = QUERIES["q11_join_broadcast"]
    monkeypatch.setitem(QUERIES, "q11_join_broadcast", lambda s, d: orig(s, d).limit(3))
    failed = _round(session, tmp_path, "olap_read")
    assert [o["tag"] for o in failed] == ["q11_join_broadcast"]


def test_table_check_catches_a_torn_read(session, tmp_path, monkeypatch):
    from cubefs_hadoop_spark.engine import Engine

    orig = Engine.read_version
    monkeypatch.setattr(Engine, "read_version", lambda self, *a, **k: orig(self, *a, **k).limit(7))
    failed = {o["kind"] for o in _round(session, tmp_path, "table_rw")}
    assert {"read", "travel"} <= failed and "commit" not in failed


def test_stream_check_catches_lost_rows(session, tmp_path, monkeypatch):
    from cubefs_hadoop_spark.streaming import ops

    orig = ops.versioned_batch_committer

    def lossy(*a, **k):
        commit = orig(*a, **k)
        return lambda df, batch_id: commit(df.limit(3), batch_id)

    monkeypatch.setattr(ops, "versioned_batch_committer", lossy)
    failed = _round(session, tmp_path, "table_rw")
    assert [o["kind"] for o in failed] == ["sink_versioned"]


def test_curation_check_catches_an_unresolved_duplicate(session, tmp_path, monkeypatch):
    from cubefs_hadoop_spark.extensions import components

    monkeypatch.setattr(components, "dedup_keep_list", lambda docs, pairs, **k: docs)
    failed = _round(session, tmp_path, "curation_pipeline")
    assert [o["kind"] for o in failed] == ["components"]
