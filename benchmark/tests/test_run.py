"""The command's contract: metric names, failure accounting, lone directory."""

import json
import os
import shutil
import subprocess
import sys

from benchmark import run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_injected_wrong_result_is_counted(monkeypatch, capsys):
    """A tiny tile_batch run whose second result is corrupted reports one
    failed operation and prints exactly the BENCHMARK.json metrics."""
    for key in ("PYTHONPATH", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS",
                "TMPDIR", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.setenv(key, os.environ.get(key, ""))
    monkeypatch.setitem(workloads.SIZES, "tile_batch",
                        {"n_images": 2_000, "n_warm_images": 200})
    real_op = workloads.TileBatch.op

    def corrupt_second(self, i, tracer):
        dt, rows = real_op(self, i, tracer)
        if i == 1:
            rows = [r[:-1] + (r[-1] + 1,) for r in rows]
        return dt, rows

    monkeypatch.setattr(workloads.TileBatch, "op", corrupt_second)
    assert run.main(["--workload", "tile_batch", "--seed", "3",
                     "--seconds", "0", "--trace", "0"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["attempted"] == run.MIN_OPS
    assert out["failed"] == 1 and out["correct"] is False
    assert set(out["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_lone_benchmark_directory_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in _spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable] + _spec()["command"][1:] + [
            "--workload", "tile_batch", "--seed", "1", "--seconds", "1",
            "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
