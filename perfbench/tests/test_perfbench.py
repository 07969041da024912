"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke test runs every workload end to end at sf0.001 and takes a
few minutes; the others take seconds.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units():
    spec = _spec()
    for section in ("end_to_end", "per_layer"):
        names = [m["name"] for m in spec[section]]
        assert len(names) == len(set(names))
        for m in spec[section]:
            assert NAME.match(m["name"]), m
            assert UNIT.match(m["unit"]), m
            assert m["better"] in ("lower", "higher"), m
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25, m
    assert len(spec["per_layer"]) <= 128
    # the runner reports exactly the metrics the spec declares
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(
        run.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(
        run.per_layer()
    )
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_same_seed_same_inputs(tmp_path):
    def build(d, seed):
        gen.write_tables(0.001, str(d / "data"))
        gen.write_ingest_copy(0.001, str(d / "ingest"), seed)
        return {
            p.relative_to(d).as_posix(): p.read_bytes()
            for p in sorted(d.rglob("*.parquet"))
        }

    a = build(tmp_path / "a", 7)
    b = build(tmp_path / "b", 7)
    c = build(tmp_path / "c", 8)
    assert len(a) == len(gen.TABLES) + 1
    assert a == b
    # the workload seed moves only the ingest copy's row order
    assert a["ingest/lineitem.parquet"] != c["ingest/lineitem.parquet"]
    assert {k: v for k, v in a.items() if k.startswith("data/")} == {
        k: v for k, v in c.items() if k.startswith("data/")
    }
    keys = list(run.ANALYTICS_KEYS)
    assert gen.key_order(keys, 7, 1) == gen.key_order(keys, 7, 1)
    assert sorted(gen.key_order(keys, 7, 1)) == sorted(keys)
    assert any(gen.key_order(keys, s, 1) != gen.key_order(keys, 7, 1) for s in range(3))


def test_parse_metric():
    assert layers.parse_metric("361 ms") == 361
    assert layers.parse_metric("1.7 s") == 1700
    assert layers.parse_metric("1,500") == 1500
    assert layers.parse_metric("4.0 KiB") == 4096
    assert (
        layers.parse_metric(
            "total (min, med, max (stageId: taskId))\n990.0 B (495.0 B, 495.0 B, 495.0 B (stage 13.0: task 12))"
        )
        == 990
    )
    assert layers.parse_metric("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 1.0: task 2))") is None


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the runner exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
    assert not (tmp_path / ".perfbench_work").exists() or not any(
        (tmp_path / ".perfbench_work").iterdir()
    )


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_smoke_prints_every_end_to_end_metric(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "0", "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {name: unit for name, unit, _ in run.END_TO_END}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
