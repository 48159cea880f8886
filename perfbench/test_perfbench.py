"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
repository root (the tiny-mode runs start Spark; allow a few minutes)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    BENCH = json.load(_fh)


def _run(workload: str, trace: int, prelude: str = "") -> dict:
    """One tiny-mode run in a fresh process; returns its result line."""
    code = (
        "import sys; sys.path.insert(0, '.'); sys.argv[0] = 'perfbench/run.py'\n"
        f"{prelude}\n"
        "from perfbench import run\n"
        f"raise SystemExit(run.main(['--workload', '{workload}', '--seed', '7', "
        f"'--seconds', '1', '--trace', '{trace}', '--tiny']))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600, check=False)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_metric_definitions():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert {w["name"]: w["why"] for w in BENCH["workloads"]} == {
        n: w.why for n, w in WORKLOADS.items()
    }
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in BENCH["end_to_end"]} == (
        metrics.END_TO_END
    )
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]} == metrics.PER_LAYER


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    def make(seed: int, d) -> str:
        state = gen.TrickleState(np.arange(500, dtype=np.int64), 500)
        gen.preload_table(seed, os.path.join(d, "preload.parquet"), 500)
        for i in range(2):
            gen.trickle_batch(seed, i, os.path.join(d, "batches"), state, files=12, rows=40)
        gen.star_tables(seed, os.path.join(d, "sf"), 0.01, ("orders", "lineitem", "events"))
        gen.corpus_tables(seed, os.path.join(d, "sf"), 50, 30)
        return gen.tree_digest(str(d))

    a = make(3, tmp_path / "a")
    assert a == make(3, tmp_path / "b")
    assert a != make(4, tmp_path / "c")


def test_batch_plants_every_invalid_kind_and_duplicates(tmp_path):
    state = gen.TrickleState(np.arange(5_000, dtype=np.int64), 5_000)
    kinds, dup_keys = set(), 0
    for i in range(6):
        b = gen.trickle_batch(11, i, str(tmp_path / f"b{i}"), state, files=64, rows=60)
        kinds |= {f.invalid for f in b.invalid}
        rows = sum(len(f.clean) for f in b.valid)
        dup_keys += rows - len(b.survivors())
    assert kinds == set(gen.INVALID_KINDS)
    assert dup_keys > 0


def test_ingest_check_catches_a_corrupted_row(tmp_path):
    state = gen.TrickleState(np.arange(100, dtype=np.int64), 100)
    expected = gen.trickle_batch(5, 0, str(tmp_path), state, files=8, rows=30).survivors()
    assert checks.compare_table(expected.copy(), expected) == []
    bad = expected.copy()
    bad.loc[3, "amount"] += 0.01
    assert checks.compare_table(bad, expected)


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric(workload, trace):
    out = _run(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = (
        {m["name"]: m["unit"] for m in BENCH["end_to_end"]} if not trace
        else {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    )
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
        if not trace:
            assert v["value"] > 0, k


def test_corrupted_target_row_fails_the_run():
    """A row corrupted in the target after each batch must be caught by
    the ingest check and show up in failed_ops_ratio."""
    prelude = (
        "from perfbench import checks\n"
        "_read = checks.read_target\n"
        "def _corrupt(d):\n"
        "    t = _read(d)\n"
        "    t.loc[0, 'amount'] = t.loc[0, 'amount'] + 1.0\n"
        "    return t\n"
        "checks.read_target = _corrupt\n"
    )
    out = _run("ingest_trickle", 1, prelude)
    assert not out["correct"]
    assert out["failed"] == out["attempted"]
    assert out["metrics"]["failed_ops_ratio"]["value"] == 1.0


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_trickle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, check=False,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
