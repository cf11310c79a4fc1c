"""rsgislib_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of RSGISLib (the Remote
Sensing & GIS Software Library, reference at /root/reference) as an idiomatic
Spark engine over a table of geotagged image+caption rows:

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long)

Design (see SURVEY.md):
  * all compute is DataFrame ops + Arrow-vectorized batch UDFs — no
    per-row Python UDFs anywhere;
  * spatial indexing via an integer grid cell index (H3-role, see
    ``geo.cellindex``) used as an equi-join key so Catalyst handles
    pushdown/pruning; exact geometry refinement is vectorized numpy;
  * tile grids replicate rsgislib ``create_tiles`` ordering byte-exactly
    (reference: src/cmds/RSGISCmdImageUtils.cpp:262-836);
  * aggregation designs are partial+final so they scale to 10^12 rows.
"""

__version__ = "0.1.0"

# inside a Spark Python worker, stop every task from re-reading the
# unchanged pyspark.zip / spark-core jar directories (see workerinit)
from .workerinit import guard_zip_rereads as _guard_zip_rereads  # noqa: E402

_guard_zip_rereads()
