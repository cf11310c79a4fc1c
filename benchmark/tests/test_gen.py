import filecmp
import json
import os

import pyarrow.parquet as pq
import pytest

from benchmark import gen

SIZES = {
    "tile_batch": {"n_images": 2_000, "n_warm_images": 200},
    "catalog_interactive": {"n_images": 2_000, "n_requests": 40},
    "incremental_ingest": {"n_base": 500, "n_delta": 50, "n_deltas": 3},
}


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_same_seed_same_inputs(tmp_path, workload):
    a, b = tmp_path / "a", tmp_path / "b"
    ma = gen.generate(str(a), workload, 7, SIZES[workload])
    mb = gen.generate(str(b), workload, 7, SIZES[workload])
    assert ma == mb
    assert _files(a) == _files(b)
    for f in _files(a):
        assert filecmp.cmp(a / f, b / f, shallow=False), f


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_other_seed_other_inputs(tmp_path, workload):
    ma = gen.generate(str(tmp_path / "a"), workload, 7, SIZES[workload])
    mb = gen.generate(str(tmp_path / "b"), workload, 8, SIZES[workload])
    sub = "base" if workload == "incremental_ingest" else "tables"
    ids = [pq.read_table(str(tmp_path / d / sub / "part.parquet"))
           .column("p_partkey").to_pylist() for d in ("a", "b")]
    assert ids[0] != ids[1]
    assert ma != mb


def test_manifest_records_parameters(tmp_path):
    m = gen.generate(str(tmp_path), "catalog_interactive", 3,
                     SIZES["catalog_interactive"])
    on_disk = json.loads((tmp_path / "manifest.json").read_text())
    assert on_disk["seed"] == 3 and on_disk["n_images"] == 2_000
    assert on_disk["id_range_factor"] == gen.ID_RANGE_FACTOR
    assert [r["type"] for r in m["requests"][:len(gen.REQUEST_CYCLE)]] \
        == list(gen.REQUEST_CYCLE)


def test_ids_distinct_and_bounded(tmp_path):
    gen.generate(str(tmp_path), "incremental_ingest", 5,
                 SIZES["incremental_ingest"])
    base = set(pq.read_table(str(tmp_path / "base" / "part.parquet"))
               .column("p_partkey").to_pylist())
    seen = set(base)
    for k in range(3):
        ids = pq.read_table(str(tmp_path / f"delta_{k}" / "part.parquet")) \
            .column("p_partkey").to_pylist()
        assert len(ids) == len(set(ids)) == 550
        delta = set(ids) - base
        assert len(delta) == 50 and not delta & seen   # disjoint deltas
        seen |= delta
    bound = gen.ID_RANGE_FACTOR * (500 + 3 * 50)
    assert max(seen) < bound       # jitter id/1e8 deg stays sub-degree
