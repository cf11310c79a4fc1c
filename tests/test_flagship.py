"""The flagship job: per-(image, zone) semantics and the one-pass plan."""

import os
import re
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rsgislib_spark import synth
from rsgislib_spark.geo.tilegrid import tile_specs
from rsgislib_spark.queries import flagship

# zone 793's box [5, 11) x [43, 49) holds all of the megacity zone 0
# [9.5, 10.5) x [44.5, 45.5); zone 1 lies elsewhere
ZONES = [(0, "HOT"), (793, "AROUND_HOT"), (1, "ELSEWHERE")]


@pytest.fixture(scope="module")
def overlap_tables(tmp_path_factory, sf_dir):
    root = tmp_path_factory.mktemp("flagship_overlap")
    shutil.copy(os.path.join(sf_dir, "part.parquet"), root / "part.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array([k for k, _ in ZONES], pa.int32()),
        "n_name": [n for _, n in ZONES],
    }), root / "nation.parquet")
    return str(root)


def test_flagship_counts_image_once_per_zone(spark, overlap_tables):
    con = duckdb.connect()
    for t in ("part", "nation"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{overlap_tables}/{t}.parquet')")
    pairs = con.sql(f"""
        SELECT i.id, i.w, i.h, i.fmt, z.zone_id, z.zname
        FROM ({synth.images_sql("duckdb")}) i
        JOIN ({synth.zones_sql("duckdb")}) z
          ON i.lon >= z.zxmin AND i.lon < z.zxmax
         AND i.lat >= z.zymin AND i.lat < z.zymax""").fetchall()
    ids = {z: {p[0] for p in pairs if p[4] == z} for z, _ in ZONES}
    assert ids[0] and ids[0] <= ids[793]          # every hot image twice
    want = {}
    for img_id, w, h, fmt, zone_id, zname in pairs:
        pix = int(synth.pixel_array(img_id, w, h, fmt)
                  .astype(np.int64).sum())
        n, t, s = want.get((zone_id, zname), (0, 0, 0))
        want[(zone_id, zname)] = (n + 1, t + len(tile_specs(w, h, 48, 32)),
                                  s + pix)
    got = {(r.zone_id, r.zname): (r.n_images, r.n_tiles, r.pix_sum)
           for r in flagship(spark, overlap_tables).collect()}
    assert got == want


def test_flagship_plan_is_one_pass(spark, sf_dir):
    """One ``part`` scan, one cell broadcast join, one Python stage and
    no sort-based aggregate (no dedup shuffle) in the executed plan."""
    df = flagship(spark, sf_dir)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("/part.parquet]") == 1
    assert final.count("BroadcastHashJoin [cell") == 1
    assert len(re.findall(r"MapIn(?:Arrow|Pandas)|EvalPython", final)) == 1
    assert "MapInArrow tiling_image_rollup(" in final
    assert "SortAggregate" not in final


def test_synth_reads_launch_no_job(spark, sf_dir, overlap_tables):
    """The synth tables read their parquet with declared schemas: building
    the frames runs no schema-inference job, and the INT32
    ``n_nationkey`` of ``overlap_tables`` is widened to the declared
    BIGINT."""
    sc = spark.sparkContext
    sc.setJobGroup("synth_reads", "synth frame build")
    try:
        img = synth.synth_images(spark, sf_dir)
        zones = synth.synth_zones(spark, overlap_tables)
        qpts = synth.synth_qpoints(spark, sf_dir)
        assert sc.statusTracker().getJobIdsForGroup("synth_reads") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert img.schema["id"].dataType.simpleString() == "bigint"
    assert qpts.schema["qid"].dataType.simpleString() == "bigint"
    assert sorted(tuple(r) for r in zones.select("zone_id", "zname")
                  .collect()) == sorted(ZONES)
