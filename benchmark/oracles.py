"""DuckDB closed-form oracles for every benchmark operation.

Each oracle recomputes an operation's answer from the generated parquet
with the engine's published formulas (``synth.*_sql``,
``cellindex.cell_sql_expr``) evaluated by DuckDB: the oracle shares the
world's definition with the engine, not its code paths.  Pixel sums never
decode: they use the closed-form pixel value ``v(id, x, y)``.
"""

from __future__ import annotations

import math
import os

import duckdb

from rsgislib_spark import synth
from rsgislib_spark.geo.cellindex import cell_sql_expr

TILE_W, TILE_H = 48, 32
PIP = ("i.lon >= z.zxmin AND i.lon < z.zxmax AND "
        "i.lat >= z.zymin AND i.lat < z.zymax")
_PXV = synth.pixel_value_sql("id", "x", "y", "fmt")
_RD = f"CAST({synth.IMG_RES_DEG} AS DOUBLE)"


def connect(tables_dir: str, work_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the image/zone/query-point layers built."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb')}'")
    for name in ("part", "nation", "supplier"):
        path = os.path.join(tables_dir, f"{name}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{path}')")
    con.execute(f"CREATE OR REPLACE TABLE img AS "
                f"{synth.footprint_sql(synth.images_sql('duckdb'))}")
    con.execute(f"CREATE OR REPLACE TABLE zones AS {synth.zones_sql('duckdb')}")
    con.execute(f"CREATE OR REPLACE TABLE qpts AS {synth.qpoints_sql('duckdb')}")
    return con


# ---------------------------------------------------------------- flagship

def flagship(con) -> list[tuple]:
    """Per-zone rollup of ``queries.flagship``: (zone_id, zname, n_images,
    n_tiles, pix_sum) with n_tiles = ceil(w/48)*ceil(h/32) and pix_sum the
    sum of v(id, x, y) over the whole image (see ``pix_sum_ctes``).
    """
    return con.execute(f"""
WITH m AS (SELECT i.id, i.w, i.h, i.fmt, z.zone_id, z.zname
           FROM img i JOIN zones z ON {PIP}),
{pix_sum_ctes("SELECT DISTINCT id, w, h, fmt FROM m")}
SELECT m.zone_id, m.zname, count(*) AS n_images,
       sum(CAST(ceil(m.w / {TILE_W}.0) * ceil(m.h / {TILE_H}.0) AS BIGINT)),
       sum(per_img.pix_sum)
FROM m JOIN per_img ON m.id = per_img.id
GROUP BY m.zone_id, m.zname
""").fetchall()


def pix_sum_ctes(images: str) -> str:
    """CTEs ending in ``per_img(id, pix_sum)`` for the (id, w, h, fmt) rows
    of ``images``: the sum of v(id, x, y) over each whole image.

    A row-sum table lookup: with p the format modulus,
    ``sum_x v = C(p, (31*id + 13*y) % p, w - 1)`` where ``C(p, c, k)`` is
    the running sum of ``(c + 7*x) % p`` over ``x <= k``, so the oracle
    touches one row per image row instead of one per pixel.
    """
    return f"""u AS (SELECT id, w, h, {synth.pmax_sql('fmt')} AS p FROM ({images})),
cs AS (SELECT p, c, x,
              sum((c + 7 * x) % p) OVER (PARTITION BY p, c ORDER BY x) AS cum
       FROM (SELECT unnest([256, 1024]) AS p) ps,
            LATERAL (SELECT unnest(generate_series(0, p - 1)) AS c) cc,
            (SELECT unnest(generate_series(0, 127)) AS x) xs),
rows_ AS (SELECT id, w, p, unnest(generate_series(0, h - 1)) AS y FROM u),
per_img AS (SELECT r.id, sum(cs.cum) AS pix_sum
            FROM rows_ r JOIN cs ON cs.p = r.p
             AND cs.c = (r.id * 31 + r.y * 13) % r.p AND cs.x = r.w - 1
            GROUP BY r.id)"""


# ---------------------------------------------------------------- catalog

def spatial_select(con, r: dict) -> list[tuple]:
    return con.execute(
        "SELECT count(*), sum(id) FROM img "
        "WHERE lon >= $1 AND lon < $2 AND lat >= $3 AND lat < $4",
        [r["xmin"], r["xmax"], r["ymin"], r["ymax"]]).fetchall()


def spatial_join(con, r: dict) -> list[tuple]:
    zones = ", ".join(str(int(z)) for z in r["zones"])
    return con.execute(f"""
SELECT z.zone_id, count(*), sum(i.id)
FROM img i JOIN zones z ON {PIP}
WHERE z.zone_id IN ({zones}) GROUP BY z.zone_id
""").fetchall()


def knn(con, r: dict) -> list[tuple]:
    qids = ", ".join(str(int(q)) for q in r["qids"])
    return con.execute(f"""
WITH d AS (
  SELECT q.qid, i.image_id,
         sqrt((q.qlon - i.lon) * (q.qlon - i.lon)
              + (q.qlat - i.lat) * (q.qlat - i.lat)) AS dist
  FROM qpts q CROSS JOIN img i WHERE q.qid IN ({qids}))
SELECT qid, arg_min(image_id, dist), min(dist) FROM d GROUP BY qid
""").fetchall()


def npts_radius(con, r: dict) -> list[tuple]:
    return con.execute("""
WITH s AS (SELECT image_id, lon, lat FROM img
           WHERE lon >= $1 AND lon < $2 AND lat >= $3 AND lat < $4)
SELECT a.image_id, count(*) - 1
FROM s a JOIN s b
  ON sqrt((a.lon - b.lon) * (a.lon - b.lon)
          + (a.lat - b.lat) * (a.lat - b.lat)) <= $5
GROUP BY a.image_id
""", [r["xmin"], r["xmax"], r["ymin"], r["ymax"], r["radius"]]).fetchall()


def tile_specs(con, r: dict) -> list[tuple]:
    """(n_tiles, sum of tile pixel areas, sum of tile_idx) for the id range."""
    return con.execute(f"""
WITH t AS (SELECT w, h, CAST(ceil(w / {TILE_W}.0) * ceil(h / {TILE_H}.0)
                              AS BIGINT) AS n
           FROM img WHERE id BETWEEN $1 AND $2)
SELECT coalesce(sum(n), 0), coalesce(sum(w * h), 0),
       coalesce(sum(n * (n - 1) // 2), 0) FROM t
""", [r["id_lo"], r["id_hi"]]).fetchall()


def zonal(con, r: dict) -> list[tuple]:
    """Per-zone pixel-center stats over the images overlapping the ROI:
    (zone_id, n_pix, sum_pix, min_pix, max_pix, median_pix), -9999 for a
    zone no pixel center falls in (the engine's ``out_no_data_val``)."""
    zones = " UNION ALL ".join(
        f"SELECT {int(z['zone_id'])} AS zone_id, "
        f"CAST({z['zxmin']!r} AS DOUBLE) AS zxmin, "
        f"CAST({z['zxmax']!r} AS DOUBLE) AS zxmax, "
        f"CAST({z['zymin']!r} AS DOUBLE) AS zymin, "
        f"CAST({z['zymax']!r} AS DOUBLE) AS zymax" for z in r["zones"])
    return con.execute(f"""
WITH zz AS ({zones}),
xs AS (SELECT image_id, id, h, fmt, xmin, ymax,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE xmax > $1 AND xmin < $2 AND ymax > $3 AND ymin < $4),
px AS (SELECT xmin + (x + 0.5) * {_RD} AS cx, ymax - (y + 0.5) * {_RD} AS cy,
              {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
j AS (SELECT z.zone_id, p.v FROM px p JOIN zz z
        ON p.cx >= z.zxmin AND p.cx < z.zxmax
       AND p.cy >= z.zymin AND p.cy < z.zymax)
SELECT z.zone_id,
       CAST(CASE WHEN count(j.v) = 0 THEN -9999 ELSE count(j.v) END AS DOUBLE),
       CAST(coalesce(sum(j.v), -9999) AS DOUBLE),
       CAST(coalesce(min(j.v), -9999) AS DOUBLE),
       CAST(coalesce(max(j.v), -9999) AS DOUBLE),
       CAST(coalesce(median(j.v), -9999) AS DOUBLE)
FROM zz z LEFT JOIN j ON z.zone_id = j.zone_id GROUP BY z.zone_id
""", [r["xmin"], r["xmax"], r["ymin"], r["ymax"]]).fetchall()


def zonal_images(con, r: dict) -> int:
    """Images the zonal request decodes (footprint overlaps the ROI)."""
    return con.execute(
        "SELECT count(*) FROM img "
        "WHERE xmax > $1 AND xmin < $2 AND ymax > $3 AND ymin < $4",
        [r["xmin"], r["xmax"], r["ymin"], r["ymax"]]).fetchone()[0]


CATALOG = {
    "spatial_select": spatial_select,
    "spatial_join": spatial_join,
    "knn": knn,
    "npts_radius": npts_radius,
    "tile_specs": tile_specs,
    "zonal": zonal,
}


# ---------------------------------------------------------------- ingest

_CELL = cell_sql_expr("lon", "lat")


def _data_sql(cte: str, src: str) -> str:
    """Data rows ``(cell, image_id, zone_id, n_tiles, pix_sum)`` the ingest
    process writes for the rows of ``src`` (images matched to zones)."""
    return f"""{cte},
mz AS (SELECT i.cell, i.id, i.image_id, i.w, i.h, i.fmt, z.zone_id
       FROM {src} i JOIN z ON {PIP}),
{pix_sum_ctes("SELECT DISTINCT id, w, h, fmt FROM mz")}
SELECT mz.cell, mz.image_id, mz.zone_id,
       CAST(ceil(mz.w / {TILE_W}.0) * ceil(mz.h / {TILE_H}.0) AS BIGINT),
       per_img.pix_sum
FROM mz JOIN per_img ON mz.id = per_img.id"""


def ingest(con, op_dir: str, base_dir: str | None = None) -> dict:
    """Expected lineage and data after committing ``op_dir`` over the
    committed ``base_dir`` (or into an empty output when ``None``).

    ``run_resumable`` is cell-granular: rows of the new table whose cell
    already has a lineage row are skipped, so only cells absent from the
    base are committed.  Returns lineage rows ``(cell, n_rows, sum_phash,
    min_id, max_id)``, data rows ``(cell, image_id, zone_id, n_tiles,
    pix_sum)`` and the rows and cells the commit processed.
    """
    img = synth.images_sql("duckdb", part=f"read_parquet('{op_dir}/part.parquet')")
    base = synth.images_sql(
        "duckdb", part=f"read_parquet('{base_dir or op_dir}/part.parquet')")
    zones = synth.zones_sql("duckdb", nation=f"read_parquet('{op_dir}/nation.parquet')")
    cte = f"""
WITH b AS (SELECT *, {_CELL} AS cell FROM ({base}) WHERE {base_dir is not None}),
i AS (SELECT *, {_CELL} AS cell FROM ({img})),
pend AS (SELECT * FROM i WHERE cell NOT IN (SELECT cell FROM b)),
done AS (SELECT * FROM b UNION ALL SELECT * FROM pend),
z AS ({zones})"""
    lineage = con.execute(f"""{cte}
SELECT cell, count(*), sum(phash % 1000003), min(id), max(id)
FROM done GROUP BY cell""").fetchall()
    data = con.execute(_data_sql(cte, "done")).fetchall()
    rows, cells = con.execute(
        f"{cte} SELECT count(*), count(DISTINCT cell) FROM pend").fetchone()
    return {"lineage": lineage, "data": data, "committed_rows": rows,
            "committed_cells": cells}


def read_output(con, out_dir: str) -> dict:
    """The committed lineage and data tables as the oracle's row shapes."""
    lineage = con.execute(f"""
SELECT cell, n_rows, sum_phash, min_id, max_id
FROM read_parquet('{out_dir}/lineage/*.parquet') ORDER BY 1""").fetchall()
    data = con.execute(f"""
SELECT CAST(cell AS BIGINT), image_id, zone_id, n_tiles, pix_sum
FROM read_parquet('{out_dir}/data/*/*.parquet', hive_partitioning = true)
ORDER BY 1, 2, 3""").fetchall()
    return {"lineage": lineage, "data": data}


def same(got, want, rel: float = 1e-9) -> bool:
    """Order-insensitive row comparison; floats equal within ``rel``."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple(str(v) for v in row if not isinstance(v, float))

    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        float(a), float(b), rel_tol=rel, abs_tol=1e-12):
                    return False
            elif a != b:
                return False
    return True
