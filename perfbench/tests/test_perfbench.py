"""Fast self-tests of the benchmark, at tiny size.

    python3 -m pytest perfbench/tests -q

The CLI tests start a Spark session each (about a minute together)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.harness import Tracer, tail  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.run import WORKLOADS, make_workload  # noqa: E402


def _cli(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        capture_output=True, text=True, cwd=cwd, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _ops(workload, seed):
    wl = make_workload(workload, seed, "full", 15, Tracer())
    return [(op.kind, op.params, op.want) for op in wl.ops]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_op_list(workload):
    assert _ops(workload, 7) == _ops(workload, 7)


def test_seed_changes_arguments_not_shape():
    a, b = _ops("coord_cmds", 7), _ops("coord_cmds", 8)
    assert [k for k, _p, _w in a] == [k for k, _p, _w in b]
    assert [p for _k, p, _w in a] != [p for _k, p, _w in b]
    qa, qb = _ops("query_batch", 7), _ops("query_batch", 8)
    assert sorted(k for k, _p, _w in qa) == sorted(k for k, _p, _w in qb)


def test_same_seed_same_tables():
    a, b = datagen.make_tables(3, 0.001), datagen.make_tables(3, 0.001)
    c = datagen.make_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}
    assert not a["lineitem"].equals(c["lineitem"])


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(100))
    value, pct, n = tail(xs)
    assert n == 100 and sum(x > value for x in xs) == 10 and pct == 90.0


def test_benchmark_json_lists_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_untraced_run_prints_every_end_to_end_metric():
    res = _result(_cli("--workload", "coord_cmds", "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--scale", "tiny"))
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    proc = _cli("--workload", "coord_cmds", "--seed", "1", "--seconds", "1",
                "--trace", "1", "--scale", "tiny")
    res = _result(proc)
    record = json.loads(proc.stdout.strip().splitlines()[-2][len("perfbench "):])
    spans = os.path.join(ROOT, record["spans_file"])
    assert os.path.getsize(spans) > 0
    os.remove(spans)
    if not os.listdir(os.path.dirname(spans)):
        os.rmdir(os.path.dirname(spans))
    assert res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == PER_LAYER
    assert res["metrics"]["clif.jobs_per_cmd"]["value"] > 0


@pytest.mark.parametrize("workload", ["coord_cmds", "query_batch"])
def test_corrupted_output_is_a_failed_op(workload):
    res = _result(_cli("--workload", workload, "--seed", "2", "--seconds", "1",
                       "--trace", "0", "--scale", "tiny", "--inject-fault"))
    assert res["correct"] is False and res["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _cli("--workload", "coord_cmds", "--seed", "1", "--seconds", "1", "--trace", "0",
                cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout.strip() == ""
