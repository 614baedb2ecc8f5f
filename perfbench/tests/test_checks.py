import json
import os
import subprocess
import sys

import pytest

import run as bench_run
from kgbench import workloads
from kgbench.checks import (CheckFailed, check_chunk_index, check_deletes, check_edges, check_query,
                            check_triples)

from conftest import BENCH_DIR, REPO_ROOT

T1 = {"conv_id": "conv00001", "subj_name": "Alice", "subj_type": "Person",
      "pred": "met", "obj_name": "Bob", "obj_type": "Person"}
T2 = dict(T1, obj_name="Carol")


def test_triples_check_passes_on_equal_sets():
    assert check_triples([T1, T2], [T2, T1, T1], "x") == (1.0, 1.0)


def test_triples_check_fails_on_missing_or_extra():
    with pytest.raises(CheckFailed):
        check_triples([T1, T2], [T1], "x")
    with pytest.raises(CheckFailed):
        check_triples([T1], [T1, T2], "x")


def test_query_check():
    check_query(["conv00001"], {"conv00001", "conv00002"}, "q")
    with pytest.raises(CheckFailed):
        check_query([], {"conv00001"}, "q")
    with pytest.raises(CheckFailed):
        check_query(["conv00003"], {"conv00001"}, "q")


def test_edge_check():
    golden = [("c1", "conv1", "PART_OF"), ("e1", "e2", "met")]
    check_edges(golden, golden + [("c1", "c2", "SIMILAR")], {"c1", "c2"}, "x")
    with pytest.raises(CheckFailed):  # a predicate edge missing
        check_edges(golden, golden[:1], {"c1"}, "x")
    with pytest.raises(CheckFailed):  # an edge the oracle does not have
        check_edges(golden, golden + [("c1", "e1", "HAS_ENTITY")], {"c1"}, "x")
    with pytest.raises(CheckFailed):  # SIMILAR self loop
        check_edges(golden, golden + [("c1", "c1", "SIMILAR")], {"c1"}, "x")
    with pytest.raises(CheckFailed):  # SIMILAR to a chunk outside the input
        check_edges(golden, golden + [("c1", "c9", "SIMILAR")], {"c1"}, "x")


def test_delete_check():
    check_deletes(["conv1"], {"conv1", "chunkA"}, 0, 0)
    with pytest.raises(CheckFailed):
        check_deletes(["conv1"], {"chunkA"}, 0, 0)
    with pytest.raises(CheckFailed):
        check_deletes(["conv1"], {"conv1"}, 0, 3)


def test_chunk_index_check():
    check_chunk_index(["conv1"], 0)
    with pytest.raises(CheckFailed):
        check_chunk_index(["conv1"], 2)


def test_exit_code():
    assert bench_run.exit_code({"correct": True, "failed": 0}) == 0
    assert bench_run.exit_code({"correct": False, "failed": 0}) == 1
    assert bench_run.exit_code({"correct": True, "failed": 2}) == 1


class _FakeSpark:
    pass


def test_failed_output_check_fails_the_command(tmp_path, monkeypatch, capsys):
    """A workload whose output check fails makes main() exit non-zero and
    report correct=false."""

    def failing_workload(ctx):
        ctx.measured = (0.0, float("inf"))
        ops = [workloads.Op("ingest", 1.0, ok=True), workloads.Op("delete", 0.5, ok=True)]
        return workloads.Run(setup_s=1.0, ops=ops, checks_ok=False,
                             cycle={"ingest": 1, "delete": 1}, primary="ingest", ingest="ingest")

    monkeypatch.setattr(bench_run, "ROOT", REPO_ROOT)
    monkeypatch.setattr(bench_run, "WORK", str(tmp_path / "work"))
    monkeypatch.setattr(bench_run, "start_session", lambda cores: _FakeSpark())
    monkeypatch.setattr(bench_run, "stop_spark", lambda spark: None)
    monkeypatch.setitem(workloads.WORKLOADS, "batch_ingest", (str, failing_workload))
    env_before = dict(os.environ)
    path_before = list(sys.path)
    try:
        rc = bench_run.main(["--workload", "batch_ingest", "--seed", "1",
                             "--seconds", "1", "--trace", "0"])
    finally:
        os.environ.clear()
        os.environ.update(env_before)
        sys.path[:] = path_before
    assert rc == 1
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["attempted"] == 2
    assert result["metrics"]["cycle_s"]["value"] == 1.5


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "batch_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2
    assert proc.stdout == ""
