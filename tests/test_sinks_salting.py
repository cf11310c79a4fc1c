"""Salted-join equivalence with the broadcast plan, and geopandas-style
suffixes for clashing columns."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_salted_join_equals_broadcast_join(spark, sf_dir):
    from rsgislib_spark import synth
    from rsgislib_spark.operators.spatial_join import spatial_join

    img = synth.synth_images(spark, sf_dir, with_footprint=False)
    zones = synth.synth_zones(spark, sf_dir)
    cols = ["image_id", "zone_id"]
    a = {tuple(r) for r in
         spatial_join(img, zones, how="inner", op="within")
         .select(*cols).collect()}
    b = {tuple(r) for r in
         spatial_join(img, zones, how="inner", op="within",
                      broadcast=False, n_salt=8).select(*cols).collect()}
    assert a == b and a


def test_sjoin_suffixes_clashing_columns(spark, sf_dir):
    """geopandas sjoin semantics: clashing attribute names gain _right."""
    from pyspark.sql import functions as F

    from rsgislib_spark import synth
    from rsgislib_spark.operators.spatial_join import spatial_join

    img = synth.synth_images(spark, sf_dir, with_footprint=False)
    zones = synth.synth_zones(spark, sf_dir) \
        .withColumn("caption", F.lit("zone-side caption"))  # clashes
    out = spatial_join(img, zones, how="inner", op="within")
    assert "caption" in out.columns and "caption_right" in out.columns
    row = out.limit(1).collect()[0]
    assert row.caption.startswith("synthetic scene")
    assert row.caption_right == "zone-side caption"
