"""Quick self-test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_selftest.py -q

Runs every workload of ``BENCHMARK.json`` once untraced and once traced
through ``run.py`` and asserts that each named metric is emitted, with
its unit, and that every output check passed.  The digest tests show
that the checks fail on corrupted output.  About four minutes on
``local[4]``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric_and_checks_pass(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == \
        {k: v["unit"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_manifest_digest_detects_corruption(tmp_path):
    from perfbench.workloads import manifest_digest

    def write(*rows):  # rows of (tile_x, element_ids, n)
        t = pa.table({"zoom": [13] * len(rows), "tile_x": [r[0] for r in rows],
                      "tile_y": [5] * len(rows), "element_ids": [r[1] for r in rows],
                      "n": [r[2] for r in rows]})
        path = tmp_path / f"m{len(list(tmp_path.iterdir()))}"
        pq.write_to_dataset(t, str(path))
        return manifest_digest(str(path))[0]

    good = write((1, ["a", "b"], 2), (2, ["c"], 1))
    assert write((2, ["c"], 1), (1, ["a", "b"], 2)) == good  # row order is free
    assert write((1, ["a", "x"], 2), (2, ["c"], 1)) != good  # changed id
    assert write((1, ["a"], 2), (2, ["c"], 1)) != good       # dropped id
    assert write((1, ["a", "b"], 2), (3, ["c"], 1)) != good  # moved tile


def test_pair_digest_detects_corruption(tmp_path):
    from perfbench.workloads import pair_digest

    def write(rows):
        path = tmp_path / f"p{len(list(tmp_path.iterdir()))}"
        a = np.array(rows, dtype=np.int64).reshape(-1, 3)
        pq.write_to_dataset(pa.table({"id_a": a[:, 0], "id_b": a[:, 1],
                                      "hamming": a[:, 2].astype(np.int32)}), str(path))
        return pair_digest(str(path))

    good = write([[1, 2, 1], [1, 3, 2], [2, 3, 3]])
    assert write([[2, 3, 3], [1, 2, 1], [1, 3, 2], [1, 2, 1]]) == good  # dup-insensitive
    assert write([[1, 2, 1], [1, 3, 2]]) != good
    assert write([[1, 2, 1], [1, 3, 2], [2, 3, 2]]) != good


def test_component_digest_detects_corruption():
    from perfbench.gen import component_digest, digest_rows

    a, b, group = np.array([1, 5, 2]), np.array([2, 6, 3]), np.array([0, 1, 0])
    want = component_digest(a, b, group)
    assert want == digest_rows([1, 2, 3, 5, 6], [1, 1, 1, 5, 5])
    assert want != digest_rows([1, 2, 3, 5, 6], [1, 1, 2, 5, 5])  # split group
    assert want != digest_rows([1, 2, 3, 5, 6], [1, 1, 1, 1, 1])  # merged groups
    assert want != digest_rows([1, 2, 5, 6], [1, 1, 5, 5])        # dropped member
