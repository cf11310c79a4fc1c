"""Every oracle agrees with the engine on a tiny generated world."""

import os

import pytest

from benchmark import gen, oracles, workloads

N_IMAGES = 2_000        # ten times the sf0.001 part table: few empty answers


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    root = tmp_path_factory.mktemp("world")
    m = gen.generate(str(root), "catalog_interactive", 11,
                     {"n_images": N_IMAGES, "n_requests": 24})
    tables = os.path.join(str(root), "tables")
    return m, tables, oracles.connect(tables, str(root))


def test_flagship_matches_oracle(spark, world):
    _, tables, con = world
    from rsgislib_spark.queries import flagship

    got = [tuple(r) for r in flagship(spark, tables).collect()]
    want = oracles.flagship(con)
    assert got and oracles.same(got, want)
    assert sum(r[2] for r in want) > 0


@pytest.mark.parametrize("slot", range(len(gen.REQUEST_CYCLE)))
def test_catalog_request_matches_oracle(spark, world, slot):
    m, tables, con = world
    r = m["requests"][slot]
    got = workloads.request(spark, tables, r, workloads.NO_TRACE)
    assert oracles.same(got, oracles.CATALOG[r["type"]](con, r)), r


def test_ingest_matches_oracle(spark, tmp_path):
    m = gen.generate(str(tmp_path / "in"), "incremental_ingest", 4,
                     {"n_base": 300, "n_delta": 60, "n_deltas": 1})
    con = oracles.connect(str(tmp_path / "in" / "base"), str(tmp_path))
    wl = workloads.IncrementalIngest(spark, str(tmp_path / "in"), m,
                                     str(tmp_path / "work"))
    wl.setup(workloads.NO_TRACE)
    _, cells = wl.op(0, workloads.NO_TRACE)
    assert cells > 0 and wl.ops[0]["idle_resume"]
    assert wl.check(con, 0, cells)
    assert not wl.check(con, 0, cells + 1)
    assert 0 < wl.ops[0]["committed_rows"] <= 60


def test_wrong_result_fails_check(spark, world):
    m, tables, con = world
    wl = workloads.CatalogInteractive(spark, os.path.dirname(tables), m, "")
    knn_slot = gen.REQUEST_CYCLE.index("knn")     # never an empty answer
    got = workloads.request(spark, tables, m["requests"][knn_slot],
                            workloads.NO_TRACE)
    assert wl.check(con, knn_slot, got)
    bad = [(row[0] + 1,) + tuple(row[1:]) for row in got]
    assert not wl.check(con, knn_slot, bad)
    assert not wl.check(con, knn_slot, got[1:])
