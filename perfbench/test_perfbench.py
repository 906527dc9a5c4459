"""The benchmark's own checks.

    python3 -m pytest perfbench -q

Run from the root of a checkout. The end-to-end cases launch the
benchmark (a JVM each) and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_kinerja_generator_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_kinerja(gen.kinerja_world(7), str(a))
    gen.write_kinerja(gen.kinerja_world(7), str(b))
    gen.write_kinerja(gen.kinerja_world(8), str(c))
    assert _digest(str(a)) == _digest(str(b))
    assert len(_digest(str(a))) == 4
    assert _digest(str(a)) != _digest(str(c))


def test_ingest_generator_is_deterministic(tmp_path):
    for fmt in ("gml", "geojson"):
        for name, op in (("a", 3), ("b", 3), ("c", 4)):
            gen.write_ingest(gen.ingest_doc(7, op, fmt), str(tmp_path / fmt / name))
        a, b, c = (_digest(str(tmp_path / fmt / name)) for name in "abc")
        assert a == b and len(a) == 1
        assert a != c


def test_pipeline_generator_is_deterministic(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_pipeline(seed, str(tmp_path / name))
    a, b, c = (_digest(str(tmp_path / name)) for name in "abc")
    assert a == b and list(a) == ["embeddings.parquet"]
    assert a != c


def test_kinerja_world_invariants():
    """Every point lies strictly inside the district it names, and Q-D2's
    target is a point of the world, so every expected answer is exact."""
    w = gen.kinerja_world(3)
    for p in w.points:
        x0, y0, x1, y1 = w.districts[p.district].box
        assert x0 < p.x < x1 and y0 < p.y < y1
    assert any((p.x, p.y) == w.target for p in w.points)
    assert len(w.points) == gen.KINERJA_POINTS


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=400,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_output_carries_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = _bench()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    report = json.loads(p.stdout.strip().splitlines()[-2])["report"]
    assert report["launch"]["OMP_NUM_THREADS"] == "1"
    if trace:
        assert report["layers_cover_wall"], report["layers_by_op"]


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run fails without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "kinerja_docs", 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
