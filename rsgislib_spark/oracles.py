"""DuckDB oracle SQL for every query in ``rsgislib_spark.queries``.

The driver runs these against the same parquet tables (views ``region
nation customer supplier part orders lineitem events documents
embeddings``) and compares row count / schema / order-insensitive value
hash with the Spark result.  The synthetic images/zones/query-points
layers are reconstructed *inside the SQL* from ``part``/``nation``/
``supplier`` using the identical arithmetic the engine uses
(``rsgislib_spark.synth``) — the oracle shares formulas, not code paths:
Spark evaluates them in Catalyst/JVM, DuckDB in its own vectorized engine.
Pixel-level oracles never decode bytes; they recompute the closed-form
pixel value v(id, x, y) over ``generate_series``.
"""

from __future__ import annotations

from . import synth
from .geo.cellindex import cell_sql_expr

__all__ = ["ORACLES"]

_IMG = synth.images_sql("duckdb")
_IMGF = synth.footprint_sql(_IMG)
_ZONES = synth.zones_sql("duckdb")
_QPTS = synth.qpoints_sql("duckdb")

_PREFIX = f"WITH img AS ({_IMG}), imgf AS ({_IMGF}), zones AS ({_ZONES}), qpts AS ({_QPTS})"

_CELL = cell_sql_expr("lon", "lat")

_PIP = ("i.lon >= z.zxmin AND i.lon < z.zxmax AND "
        "i.lat >= z.zymin AND i.lat < z.zymax")

ORACLES = {}

ORACLES["cell_encode"] = f"""
{_PREFIX}
SELECT {_CELL} AS cell, count(*) AS n_images,
       min(id) AS min_id, max(id) AS max_id
FROM img GROUP BY 1
"""

ORACLES["sjoin_inner_within"] = f"""
{_PREFIX}
SELECT i.image_id, z.zone_id, z.zname, i.lon, i.lat
FROM img i JOIN zones z ON {_PIP}
"""

ORACLES["zone_point_counts"] = f"""
{_PREFIX}
SELECT z.zone_id, z.zname, count(i.image_id) AS n_pts
FROM zones z LEFT JOIN img i ON {_PIP}
GROUP BY z.zone_id, z.zname
"""

_TW, _TH = 48, 32
ORACLES["tile_specs"] = f"""
{_PREFIX},
g AS (
  SELECT image_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
         CAST(w // {_TW} AS BIGINT) AS numx, CAST(h // {_TH} AS BIGINT) AS numy,
         CAST(w % {_TW} AS BIGINT) AS remx, CAST(h % {_TH} AS BIGINT) AS remy
  FROM img),
gg AS (
  SELECT *, numx + CASE WHEN remx > 0 THEN 1 ELSE 0 END AS cols,
            numy + CASE WHEN remy > 0 THEN 1 ELSE 0 END AS rows_
  FROM g),
t AS (
  SELECT *, unnest(generate_series(0, cols * rows_ - 1)) AS tile_idx FROM gg)
SELECT image_id, tile_idx,
  tile_idx % cols AS tile_x,
  tile_idx // cols AS tile_y,
  (tile_idx % cols) * {_TW} AS txmin,
  least((tile_idx % cols) * {_TW}
        + CASE WHEN tile_idx % cols < numx THEN {_TW} ELSE remx END, w) AS txmax,
  (tile_idx // cols) * {_TH} AS tymin,
  least((tile_idx // cols) * {_TH}
        + CASE WHEN tile_idx // cols < numy THEN {_TH} ELSE remy END, h) AS tymax,
  concat(image_id, '_tile', tile_idx) AS tile_name,
  concat('x', tile_idx % cols + 1, 'y', tile_idx // cols + 1) AS tile_name_mc
FROM t
"""

ORACLES["tile_specs_overlap"] = f"""
{_PREFIX},
g AS (
  SELECT image_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
         CAST(w // {_TW} AS BIGINT) AS numx, CAST(h // {_TH} AS BIGINT) AS numy,
         CAST(w % {_TW} AS BIGINT) AS remx, CAST(h % {_TH} AS BIGINT) AS remy
  FROM img),
gg AS (
  SELECT *, numx + CASE WHEN remx > 0 THEN 1 ELSE 0 END AS cols,
            numy + CASE WHEN remy > 0 THEN 1 ELSE 0 END AS rows_
  FROM g),
t AS (
  SELECT *, unnest(generate_series(0, cols * rows_ - 1)) AS tile_idx FROM gg),
c AS (
  SELECT *, tile_idx % cols AS tx, tile_idx // cols AS ty,
         CASE WHEN tile_idx % cols < numx THEN {_TW} ELSE remx END AS tw_,
         CASE WHEN tile_idx // cols < numy THEN {_TH} ELSE remy END AS th_
  FROM t)
SELECT image_id, tile_idx, tx AS tile_x, ty AS tile_y,
  greatest(tx * {_TW} - 8, 0) AS txmin,
  least(tx * {_TW} + tw_ + 8, w) AS txmax,
  greatest(ty * {_TH} - 8, 0) AS tymin,
  least(ty * {_TH} + th_ + 8, h) AS tymax,
  concat(image_id, '_tile', tile_idx) AS tile_name
FROM c
"""

ORACLES["tile_specs_offset"] = f"""
{_PREFIX},
g AS (
  SELECT image_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
         -- floor(), not //: DuckDB's // truncates toward zero, but the
         -- reference grid floors (images narrower than the half offset
         -- give num = -1) — keep all engines on floor semantics
         CAST(floor((w - 24) / {_TW}.0) AS BIGINT) AS numx,
         CAST(floor((h - 16) / {_TH}.0) AS BIGINT) AS numy
  FROM img),
gg AS (
  SELECT *, w - numx * {_TW} AS remx, h - numy * {_TH} AS remy,
         1 + numx + CASE WHEN w - numx * {_TW} > 0 THEN 1 ELSE 0 END AS cols,
         1 + numy + CASE WHEN h - numy * {_TH} > 0 THEN 1 ELSE 0 END AS rows_
  FROM g),
t AS (
  SELECT *, unnest(generate_series(0, cols * rows_ - 1)) AS tile_idx FROM gg),
x AS (SELECT *, tile_idx % cols AS tx, tile_idx // cols AS ty FROM t),
c AS (
  SELECT *,
    CASE WHEN tx = 0 THEN 0 ELSE 24 + (tx - 1) * {_TW} END AS cx,
    CASE WHEN ty = 0 THEN 0 ELSE 16 + (ty - 1) * {_TH} END AS cy,
    CASE WHEN tx = 0 THEN 24 WHEN tx <= numx THEN {_TW} ELSE remx END AS tw_,
    CASE WHEN ty = 0 THEN 16 WHEN ty <= numy THEN {_TH} ELSE remy END AS th_
  FROM x)
SELECT image_id, tile_idx, tx AS tile_x, ty AS tile_y,
  greatest(cx, 0) AS txmin, least(cx + tw_, w) AS txmax,
  greatest(cy, 0) AS tymin, least(cy + th_, h) AS tymax,
  concat(image_id, '_tile', tile_idx) AS tile_name
FROM c
"""

ORACLES["block_iter"] = f"""
{_PREFIX},
g AS (
  SELECT image_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
         CAST(ceil(w / 48.0) AS BIGINT) AS cols,
         CAST(ceil(h / 48.0) AS BIGINT) AS rows_
  FROM img),
t AS (
  SELECT *, unnest(generate_series(0, cols * rows_ - 1)) AS block_idx FROM g),
c AS (
  SELECT *, greatest(least((block_idx % cols) * 48, w - 48), 0) AS x0,
            greatest(least((block_idx // cols) * 48, h - 48), 0) AS y0
  FROM t)
SELECT image_id, block_idx, x0 AS bxmin, least(x0 + 48, w) AS bxmax,
       y0 AS bymin, least(y0 + 48, h) AS bymax
FROM c
"""

_PXE = synth.pixel_value_sql("wid", "sx", "sy", "wfmt")

_POINT_EXTRACT_CTE = """
cand AS (SELECT p.pid, p.plon, p.plat, i.id, i.image_id, i.fmt,
                i.w, i.h, i.xmin, i.ymax,
                row_number() OVER (PARTITION BY p.pid ORDER BY i.id DESC)
                  AS rn
         FROM pts p JOIN imgf i
           ON p.plon >= i.xmin AND p.plon < i.xmax
          AND p.plat > i.ymin AND p.plat <= i.ymax),
won AS (SELECT pid, plon, plat, id AS wid, image_id, fmt AS wfmt,
               least(CAST(floor((plon - xmin) / 0.001) AS BIGINT),
                     w - 1) AS sx,
               least(CAST(floor((ymax - plat) / 0.001) AS BIGINT),
                     h - 1) AS sy
        FROM cand WHERE rn = 1)
""".strip()

ORACLES["point_extract"] = f"""
{_PREFIX},
pts AS (SELECT qid AS pid, qlon AS plon, qlat AS plat FROM qpts),
{_POINT_EXTRACT_CTE}
SELECT p.pid AS qid, p.plon AS qlon, p.plat AS qlat, w.image_id,
       coalesce(CAST({_PXE} AS DOUBLE), -9999.0) AS pix_val
FROM pts p LEFT JOIN won w ON p.pid = w.pid
"""

ORACLES["zonal_centroid"] = f"""
{_PREFIX},
pts AS (SELECT zone_id AS pid, (zxmin + zxmax) / 2.0 AS plon,
               (zymin + zymax) / 2.0 AS plat FROM zones),
{_POINT_EXTRACT_CTE}
SELECT p.pid AS zone_id, p.plon AS c_lon, p.plat AS c_lat, w.image_id,
       coalesce(CAST({_PXE} AS DOUBLE), -9999.0) AS pix_val
FROM pts p LEFT JOIN won w ON p.pid = w.pid
"""

ORACLES["knn_closest"] = f"""
{_PREFIX},
d AS (
  SELECT q.qid, q.qlon, q.qlat, i.image_id, i.lon, i.lat,
         sqrt((q.qlon - i.lon) * (q.qlon - i.lon)
              + (q.qlat - i.lat) * (q.qlat - i.lat)) AS dist,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY sqrt((q.qlon - i.lon) * (q.qlon - i.lon)
                         + (q.qlat - i.lat) * (q.qlat - i.lat))) AS rn
  FROM qpts q CROSS JOIN img i)
SELECT qid, qlon, qlat, image_id AS match_image_id,
       lon AS x_match, lat AS y_match, dist AS dist_match
FROM d WHERE rn = 1
"""

# apply_rat_knn k=5: brute-force top-5 by (dist, id), majority vote,
# vote ties -> smallest class — the deterministic tiebreaks the ladder
# uses (array_sort on (d, key) / max(struct(n, -cls)))
ORACLES["knn_classify"] = f"""
{_PREFIX},
d AS (
  SELECT q.qid, i.id, i.id % 5 AS cls,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY sqrt((q.qlon - i.lon) * (q.qlon - i.lon)
                         + (q.qlat - i.lat) * (q.qlat - i.lat)), i.id) AS rn
  FROM qpts q CROSS JOIN img i),
v AS (SELECT qid, cls, count(*) AS n FROM d WHERE rn <= 5
      GROUP BY qid, cls),
w AS (SELECT qid, max(n * 8 + (7 - cls)) AS enc FROM v GROUP BY qid)
SELECT qid, CAST(7 - (enc % 8) AS BIGINT) AS pred_cls,
       CAST(enc // 8 AS BIGINT) AS n_votes
FROM w
"""

ORACLES["npts_radius"] = f"""
{_PREFIX}
SELECT a.image_id, count(*) - 1 AS n_pts_r
FROM img a JOIN img b
  ON sqrt((a.lon - b.lon) * (a.lon - b.lon)
          + (a.lat - b.lat) * (a.lat - b.lat)) <= 0.2
GROUP BY a.image_id
"""

_PXV = synth.pixel_value_sql("id", "x", "y", "fmt")

_RD = "CAST(0.001 AS DOUBLE)"   # IMG_RES_DEG as an explicit DOUBLE

ORACLES["pixel_stats"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 7 = 0),
px AS (SELECT image_id, {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs))
SELECT image_id, count(*) AS n_pix, CAST(sum(v) AS BIGINT) AS sum_pix,
       CAST(min(v) AS BIGINT) AS min_pix, CAST(max(v) AS BIGINT) AS max_pix,
       CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_pix
FROM px GROUP BY image_id
"""

ORACLES["audio_rms"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 7 = 0 AND fmt = 'raw16'),
pxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs),
s AS (SELECT image_id, (y * w + x) // 1024 AS win_id,
             ({_PXV} - 512) AS smp
      FROM pxy)
SELECT image_id AS audio_id, CAST(win_id AS BIGINT) AS win_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(smp * smp) AS BIGINT) AS sumsq,
       CAST(max(abs(smp)) AS BIGINT) AS peak,
       sqrt(CAST(sum(smp * smp) AS DOUBLE)
            / CAST(count(*) AS DOUBLE)) AS rms
FROM s GROUP BY image_id, win_id
"""


def _px_cte(mod: int = 7, cols: str = "") -> str:
    """Per-pixel CTE over the id%mod image subset (closed-form values)."""
    return f"""
xs AS (SELECT image_id, id, w, h, fmt{cols},
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % {mod} = 0),
pxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)
""".strip()


ORACLES["band_math"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id,
              CASE WHEN {_PXV} > 128 THEN 2 * {_PXV} + 1 ELSE 0 END AS o
       FROM pxy)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(o) AS BIGINT) AS sum_pix,
       CAST(min(o) AS BIGINT) AS min_pix,
       CAST(max(o) AS BIGINT) AS max_pix
FROM px GROUP BY image_id
"""

ORACLES["mask_img"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id, {_PXV} AS v FROM pxy)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(CASE WHEN v IN (0, 1, 2, 3) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_masked,
       CAST(sum(CASE WHEN v IN (0, 1, 2, 3) THEN 255 ELSE v END) AS BIGINT)
         AS sum_pix,
       CAST(min(CASE WHEN v IN (0, 1, 2, 3) THEN 255 ELSE v END) AS BIGINT)
         AS min_pix,
       CAST(max(CASE WHEN v IN (0, 1, 2, 3) THEN 255 ELSE v END) AS BIGINT)
         AS max_pix
FROM px GROUP BY image_id
"""


def _pxv_at(dx: int, dy: int) -> str:
    xs = f"(x + {dx})" if dx else "x"
    ys = f"(y + {dy})" if dy else "y"
    return synth.pixel_value_sql("id", xs, ys, "fmt")


_MEAN3_S = " + ".join(_pxv_at(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1))
_SOBEL_S = (f"({_pxv_at(1, -1)} + 2 * {_pxv_at(1, 0)} + {_pxv_at(1, 1)}"
            f" - {_pxv_at(-1, -1)} - 2 * {_pxv_at(-1, 0)} - {_pxv_at(-1, 1)})")


def _conv_oracle(term: str, mod: int = 19, r: int = 1,
                 suffix: str = "conv") -> str:
    return f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series({r}, w - {r + 1})) AS x
       FROM img WHERE id % {mod} = 0),
pxy AS (SELECT *, unnest(generate_series({r}, h - {r + 1})) AS y FROM xs),
c AS (SELECT image_id, {term} AS s FROM pxy)
SELECT image_id, count(*) AS n_interior,
       CAST(sum(s) AS BIGINT) AS sum_{suffix},
       CAST(min(s) AS BIGINT) AS min_{suffix},
       CAST(max(s) AS BIGINT) AS max_{suffix}
FROM c GROUP BY image_id
"""


_DIAG_MIN = (f"least({_pxv_at(-1, -1)}, {_pxv_at(1, -1)}, "
             f"{_pxv_at(-1, 1)}, {_pxv_at(1, 1)})")

ORACLES["local_minima"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(1, w - 2)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM xs),
c AS (SELECT image_id, w, x, y, ({_PXV}) AS v, {_DIAG_MIN} AS dmin
      FROM pxy),
m AS (SELECT image_id, w, x, y, v,
             row_number() OVER (PARTITION BY image_id
                                ORDER BY y, x) AS seq
      FROM c WHERE dmin >= v)
SELECT i.image_id,
       CAST(coalesce(t.n_minima, 0) AS BIGINT) AS n_minima,
       CAST(coalesce(t.sum_min_v, 0) AS BIGINT) AS sum_min_v,
       CAST(coalesce(t.seq_ck, 0) AS BIGINT) AS seq_ck
FROM (SELECT image_id FROM img WHERE id % 19 = 0 AND w >= 3 AND h >= 3) i
LEFT JOIN (SELECT image_id, count(*) AS n_minima, sum(v) AS sum_min_v,
                  sum(seq * (y * w + x)) AS seq_ck
           FROM m GROUP BY image_id) t
  ON t.image_id = i.image_id
"""


# spec_unmix_spts_ucls: constants mirror operators/imagemath._ENDMEMBERS
# and _UNMIX_W; the 2x2 normal-equation matrix G is a global integer
# constant, so per-pixel Cramer numerators are integer-linear in the
# spectrum and per-image means are one IEEE division of exact integers.
_UM_G11 = 700 * 700 + 300 * 300 + 100
_UM_G12 = 700 * 200 + 300 * 600 + 100
_UM_G22 = 200 * 200 + 600 * 600 + 100
_UM_DET = _UM_G11 * _UM_G22 - _UM_G12 * _UM_G12
_UM_V2 = synth.pixel_value_sql("id", "(w - 1 - x)", "y", "fmt")

ORACLES["unmix_ucls"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs),
pv AS (SELECT image_id, ({_PXV}) AS v1, ({_UM_V2}) AS v2 FROM pxy),
cc AS (SELECT image_id,
              (700 * v1 + 300 * v2 + 100) AS c1,
              (200 * v1 + 600 * v2 + 100) AS c2
       FROM pv WHERE v1 > 0 AND v2 > 0),
ag AS (SELECT image_id, CAST(count(*) AS BIGINT) AS n_valid,
              CAST(sum(c1 * {_UM_G22} - c2 * {_UM_G12}) AS BIGINT) AS s1,
              CAST(sum({_UM_G11} * c2 - {_UM_G12} * c1) AS BIGINT) AS s2
       FROM cc GROUP BY image_id)
SELECT i.image_id,
       CAST(coalesce(a.n_valid, 0) AS BIGINT) AS n_valid,
       CAST(coalesce(a.s1, 0) AS BIGINT) AS sum_num1,
       CAST(coalesce(a.s2, 0) AS BIGINT) AS sum_num2,
       CASE WHEN a.n_valid > 0
            THEN CAST(a.s1 AS DOUBLE)
                 / CAST(a.n_valid * {_UM_DET} AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS mean_a1,
       CASE WHEN a.n_valid > 0
            THEN CAST(a.s2 AS DOUBLE)
                 / CAST(a.n_valid * {_UM_DET} AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS mean_a2
FROM (SELECT image_id FROM img WHERE id % 19 = 0) i
LEFT JOIN ag a ON a.image_id = i.image_id
"""


# unmix_residual: small endmember set (imagemath._ENDMEMBERS_S, w=1)
_UMS_G11 = 7 * 7 + 3 * 3 + 1
_UMS_G12 = 7 * 2 + 3 * 6 + 1
_UMS_G22 = 2 * 2 + 6 * 6 + 1
_UMS_DET = _UMS_G11 * _UMS_G22 - _UMS_G12 * _UMS_G12

ORACLES["unmix_residual"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs),
pv AS (SELECT image_id, ({_PXV}) AS v1, ({_UM_V2}) AS v2 FROM pxy),
nm AS (SELECT image_id, v1, v2,
              ((7 * v1 + 3 * v2 + 1) * {_UMS_G22}
               - (2 * v1 + 6 * v2 + 1) * {_UMS_G12}) AS n1,
              ({_UMS_G11} * (2 * v1 + 6 * v2 + 1)
               - {_UMS_G12} * (7 * v1 + 3 * v2 + 1)) AS n2
       FROM pv WHERE v1 > 0 AND v2 > 0),
rs AS (SELECT image_id, n1, n2,
              ({_UMS_DET} * v1 - 7 * n1 - 2 * n2) AS r1,
              ({_UMS_DET} * v2 - 3 * n1 - 6 * n2) AS r2
       FROM nm),
ag AS (SELECT image_id, CAST(count(*) AS BIGINT) AS n_valid,
              CAST(sum(CASE WHEN n1 < 0 OR n2 < 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_neg,
              CAST(sum(r1 * r1 + r2 * r2) AS BIGINT) AS ssq
       FROM rs GROUP BY image_id)
SELECT i.image_id,
       CAST(coalesce(a.n_valid, 0) AS BIGINT) AS n_valid,
       CAST(coalesce(a.n_neg, 0) AS BIGINT) AS n_neg,
       CAST(coalesce(a.ssq, 0) AS BIGINT) AS sum_sq_num,
       CASE WHEN a.n_valid > 0
            THEN CAST(a.ssq AS DOUBLE)
                 / CAST(2 * a.n_valid * {_UMS_DET} * {_UMS_DET} AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS mse,
       CASE WHEN a.n_valid > 0
            THEN sqrt(CAST(a.ssq AS DOUBLE)
                 / CAST(2 * a.n_valid * {_UMS_DET} * {_UMS_DET} AS DOUBLE))
            ELSE CAST(0 AS DOUBLE) END AS rmse
FROM (SELECT image_id FROM img WHERE id % 19 = 0) i
LEFT JOIN ag a ON a.image_id = i.image_id
"""


# season_trend: the quantized harmonic table is generated by the SAME
# Python call that feeds the Spark DataFrame (operators/timeseries.py),
# so both engines consume identical integers.
from .operators.timeseries import harmonic_table as _harm_tbl

_HARM_VALUES = ", ".join(f"({d}, {c})" for d, c in _harm_tbl())

ORACLES["season_trend"] = f"""
WITH tq(doy, cq) AS (VALUES {_HARM_VALUES}),
ev AS (SELECT event_type, dayofyear(ts) AS doy,
              CAST(round(value * 100.0) AS BIGINT) AS vc
       FROM events),
j AS (SELECT e.event_type, t.cq, e.vc FROM ev e JOIN tq t ON t.doy = e.doy),
g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cq) AS BIGINT) AS sx,
             CAST(sum(cq * cq) AS BIGINT) AS sxx,
             CAST(sum(vc) AS BIGINT) AS sy,
             CAST(sum(cq * vc) AS BIGINT) AS sxy
      FROM j GROUP BY event_type)
SELECT event_type, n, sy, sxy,
       CAST(sxx * sy - sx * sxy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS a_cents,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS b_cents
FROM g
"""


# circular-operator morphology: same disk rule as
# imagemath.circular_se_offsets (dx^2+dy^2 <= (r+0.25)^2, r=2)
_CIRC5 = [(dx, dy) for dy in range(-2, 3) for dx in range(-2, 3)
          if dx * dx + dy * dy <= 5.0625]
_CIRC5_T = ", ".join(_pxv_at(dx, dy) for dx, dy in _CIRC5)
ORACLES["morph_dilate_circ"] = _conv_oracle(f"greatest({_CIRC5_T})", r=2,
                                            suffix="m")


# find_image_offset: the planted-shift registration twin
_REG_REF = synth.pixel_value_sql("id", "(x - o.dx)", "(y - o.dy)", "fmt")
_REG_FLT = synth.pixel_value_sql("id", "(x - (id % 5 - 2))",
                                 "(y - (id % 7 - 3))", "fmt")

ORACLES["register_offset"] = f"""
{_PREFIX},
rxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
rpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM rxs),
offs AS (SELECT dxs.dx, dys.dy
         FROM (SELECT unnest(generate_series(-3, 3)) AS dx) dxs,
              (SELECT unnest(generate_series(-3, 3)) AS dy) dys),
ms AS (SELECT p.image_id, o.dx, o.dy,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(({_REG_REF} - ({_REG_FLT} + (x * y) % 3))
                       * ({_REG_REF} - ({_REG_FLT} + (x * y) % 3)))
                   AS BIGINT) AS s
       FROM rpxy p CROSS JOIN offs o
       WHERE x - (id % 5 - 2) >= 0 AND x - (id % 5 - 2) < w
         AND y - (id % 7 - 3) >= 0 AND y - (id % 7 - 3) < h
         AND x - o.dx >= 0 AND x - o.dx < w
         AND y - o.dy >= 0 AND y - o.dy < h
       GROUP BY p.image_id, o.dx, o.dy),
rk AS (SELECT *, row_number() OVER (
           PARTITION BY image_id
           ORDER BY CAST(s AS DOUBLE) / CAST(n AS DOUBLE), dy, dx) AS rn
       FROM ms)
SELECT r.image_id,
       CAST(i.id % 5 - 2 AS BIGINT) AS planted_dx,
       CAST(i.id % 7 - 3 AS BIGINT) AS planted_dy,
       CAST(r.dx AS BIGINT) AS found_dx,
       CAST(r.dy AS BIGINT) AS found_dy,
       r.n AS n_overlap, r.s AS sum_sq,
       CAST(r.s AS DOUBLE) / CAST(r.n AS DOUBLE) AS msd
FROM rk r JOIN img i ON i.image_id = r.image_id
WHERE r.rn = 1
"""


def _kernel_term(kernel) -> str:
    """SQL sum-of-terms for an arbitrary odd k x k integer kernel.

    The sum is emitted as a BALANCED parenthesis tree: a flat
    left-nested chain of the 15x15 bank's ~220 terms exceeds DuckDB's
    128-deep binder recursion limit, while the balanced tree is only
    ~8 deep.  Integer addition is associative, so the Spark kernel's
    accumulation order and any tree shape agree exactly.
    """
    ksz = len(kernel)
    r = ksz // 2
    terms = []
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            c = int(kernel[dy + r][dx + r])
            if c:
                terms.append(f"(({c}) * {_pxv_at(dx, dy)})")
    while len(terms) > 1:
        terms = [f"({a} + {b})" for a, b in zip(terms[::2], terms[1::2])] \
            + ([terms[-1]] if len(terms) % 2 else [])
    return terms[0]


# laplacian (binomial LoG) + total-diff filters
from .operators.imagemath import laplacian_kernel as _lap_k

_TD3_K = ((-1, -1, -1), (-1, 8, -1), (-1, -1, -1))
_TDA_T = " + ".join(f"abs({_pxv_at(0, 0)} - {_pxv_at(dx, dy)})"
                    for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                    if (dx, dy) != (0, 0))
ORACLES["filter_laplacian"] = _conv_oracle(_kernel_term(_lap_k(5)), r=2,
                                           suffix="conv")
ORACLES["filter_total_diff"] = _conv_oracle(_kernel_term(_TD3_K), r=1,
                                            suffix="conv")
ORACLES["filter_total_diff_abs"] = _conv_oracle(f"({_TDA_T})", r=1,
                                                suffix="tda")


ORACLES["mask_val_prob"] = f"""
{_PREFIX},
vxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
vpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM vxs),
vmask AS (SELECT image_id, ({_PXV}) AS v
          FROM vpxy WHERE ({_UM_V2}) >= 512),
vh AS (SELECT image_id, v, CAST(count(*) AS BIGINT) AS cnt
       FROM vmask GROUP BY image_id, v),
va AS (SELECT image_id, CAST(sum(cnt) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS nd,
              CAST(sum(cnt * cnt) AS BIGINT) AS scs,
              CAST(max(cnt) AS BIGINT) AS mx
       FROM vh GROUP BY image_id)
SELECT i.image_id,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_mask,
       CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct,
       CAST(coalesce(a.scs, 0) AS BIGINT) AS sum_cnt_sq,
       CAST(coalesce(a.mx, 0) AS BIGINT) AS max_cnt,
       CASE WHEN a.n > 0 THEN CAST(a.scs AS DOUBLE)
                              / CAST(a.n * a.n AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS mean_prob,
       CASE WHEN a.n > 0 THEN CAST(a.scs AS DOUBLE)
                              / CAST(a.n * a.mx AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS mean_resc
FROM (SELECT image_id FROM img WHERE id % 19 = 0) i
LEFT JOIN va a ON a.image_id = i.image_id
"""


# pan_sharpen_hcs: 5-bit planes keep every integer moment < 2^53 (the
# HUGEINT->DOUBLE cast is then exact; above 2^53 DuckDB's rounding
# deviates from IEEE nearest — measured, see imagemath docstring)
_HCS_V1 = f"(({_PXV}) // 32)"
_HCS_V2 = f"(({_UM_V2}) // 32)"

ORACLES["pan_sharpen"] = f"""
{_PREFIX},
hxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
hpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM hxs),
hq AS (SELECT image_id, CAST(y AS BIGINT) * w + x AS fi,
              {_HCS_V1} AS b0, {_HCS_V2} AS b1
       FROM hpxy WHERE {_HCS_V1} > 0),
hx AS (SELECT image_id, fi, b0, b1,
              b0 * b0 + b1 * b1 AS xv,
              ((b0 + b1) // 2) * ((b0 + b1) // 2) AS yv
       FROM hq),
hst AS (SELECT image_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xv) AS BIGINT) AS s_ms,
               CAST(sum(xv * xv) AS BIGINT) AS ss_ms,
               CAST(sum(yv) AS BIGINT) AS s_p,
               CAST(sum(yv * yv) AS BIGINT) AS ss_p,
               CAST(min(fi) AS BIGINT) AS fi0
        FROM hx GROUP BY image_id),
hsd AS (SELECT image_id, n, fi0,
               CAST(s_ms AS DOUBLE) / CAST(n AS DOUBLE) AS mean_ms,
               sqrt(CAST(n * ss_ms - s_ms * s_ms AS DOUBLE))
                   / CAST(n AS DOUBLE) AS sd_ms,
               CAST(s_p AS DOUBLE) / CAST(n AS DOUBLE) AS mean_pan,
               sqrt(CAST(n * ss_p - s_p * s_p AS DOUBLE))
                   / CAST(n AS DOUBLE) AS sd_pan
        FROM hst),
hneg AS (SELECT p.image_id,
                CAST(sum(CASE WHEN (d.sd_ms / d.sd_pan)
                         * ((CAST(p.yv AS DOUBLE) - d.mean_pan) + d.sd_pan)
                         + (d.mean_ms - d.sd_ms) < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
         FROM hx p JOIN hsd d ON d.image_id = p.image_id
         GROUP BY p.image_id),
hsmp AS (SELECT p.image_id,
                CASE WHEN (d.sd_ms / d.sd_pan)
                     * ((CAST(p.yv AS DOUBLE) - d.mean_pan) + d.sd_pan)
                     + (d.mean_ms - d.sd_ms) >= 0
                     THEN sqrt((d.sd_ms / d.sd_pan)
                          * ((CAST(p.yv AS DOUBLE) - d.mean_pan) + d.sd_pan)
                          + (d.mean_ms - d.sd_ms))
                     ELSE CAST(0 AS DOUBLE) END AS i_adj,
                p.b0 AS b0, p.b1 AS b1
         FROM hx p JOIN hsd d ON d.image_id = p.image_id AND d.fi0 = p.fi)
SELECT d.image_id, d.n AS n_valid, g.n_neg,
       d.mean_ms, d.sd_ms, d.mean_pan, d.sd_pan,
       m.i_adj * (CAST(m.b0 AS DOUBLE)
                  / sqrt(CAST(2 * m.b0 * m.b0 + m.b1 * m.b1 AS DOUBLE)))
           AS out0,
       m.i_adj * (sqrt(CAST(m.b0 * m.b0 + m.b1 * m.b1 AS DOUBLE))
                  / sqrt(CAST(2 * m.b0 * m.b0 + m.b1 * m.b1 AS DOUBLE)))
           AS out1
FROM hsd d
JOIN hneg g ON g.image_id = d.image_id
JOIN hsmp m ON m.image_id = d.image_id
"""


ORACLES["unpack_bits"] = f"""
{_PREFIX},
uxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
upxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM uxs),
upx AS (SELECT image_id, CAST(y AS BIGINT) * w + x AS fi, ({_PXV}) AS v
        FROM upxy),
ub AS (SELECT p.image_id, b.bit, p.fi,
              (p.v // (1 << b.bit)) % 2 AS s
       FROM upx p CROSS JOIN
            (SELECT unnest(generate_series(0, 9)) AS bit) b)
SELECT image_id, CAST(bit AS BIGINT) AS bit,
       CAST(sum(s) AS BIGINT) AS n_set,
       CAST(coalesce(min(CASE WHEN s = 1 THEN fi END), -1) AS BIGINT)
           AS first_set
FROM ub GROUP BY image_id, bit
"""


def _win_list(ksz: int) -> str:
    """SQL list literal of the k x k window's pixel values."""
    r = ksz // 2
    return "[" + ", ".join(_pxv_at(dx, dy)
                           for dy in range(-r, r + 1)
                           for dx in range(-r, r + 1)) + "]"


ORACLES["filter_mean3"] = _conv_oracle(f"({_MEAN3_S})")
ORACLES["filter_sobel"] = _conv_oracle(f"abs({_SOBEL_S})")

# parameterized filter_size rank/convolution filters: the window's k^2
# closed-form pixel values as a SQL list, reduced with scalar list ops
_L5 = _win_list(5)
_L3 = _win_list(3)

ORACLES["filter_median5"] = _conv_oracle(
    f"list_sort({_L5})[13]", r=2, suffix="median")

ORACLES["filter_mode3"] = _conv_oracle(
    f"-(list_max(list_transform(list_distinct({_L3}),"
    f" v -> {{'n': len(list_filter({_L3}, x -> x = v)), 'nv': -v}})).nv)",
    r=1, suffix="mode")

ORACLES["filter_range5"] = _conv_oracle(
    f"list_max({_L5}) - list_min({_L5})", r=2, suffix="range")

# Kuwahara 5x5: four overlapping 3x3 quadrant (sum, sumsq) pairs from
# closed-form pixel values; least-variance quadrant wins (exact integer
# keys, ties -> NW,NE,SW,SE order via the *4+i encoding)
def _kuwahara_term() -> str:
    quads = []
    for qi, (dy0, dx0) in enumerate(((-1, -1), (-1, 1), (1, -1), (1, 1))):
        terms = [_pxv_at(dx0 + dx, dy0 + dy)
                 for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
        s = "(" + " + ".join(terms) + ")"
        ss = "(" + " + ".join(f"({t}) * ({t})" for t in terms) + ")"
        k = f"((9 * {ss} - {s} * {s}) * 4 + {qi})"
        quads.append((k, s))
    least = "least(" + ", ".join(k for k, _ in quads) + ")"
    case = " ".join(f"WHEN {k} THEN {s}" for k, s in quads)
    return f"(CASE {least} {case} END)"


ORACLES["filter_kuwahara"] = _conv_oracle(_kuwahara_term(), r=2,
                                          suffix="k9")

ORACLES["band_select"] = f"""
{_PREFIX},
{_px_cte(mod=19)},
px AS (SELECT image_id, {_PXV} AS v FROM pxy)
SELECT image_id, CAST(1 AS BIGINT) AS band_pos, 'half' AS band_name,
       count(*) AS n_pix, CAST(sum(v // 2) AS BIGINT) AS sum_pix,
       CAST(min(v // 2) AS BIGINT) AS min_pix,
       CAST(max(v // 2) AS BIGINT) AS max_pix
FROM px GROUP BY image_id
UNION ALL
SELECT image_id, CAST(2 AS BIGINT), 'b1',
       count(*), CAST(sum(v) AS BIGINT),
       CAST(min(v) AS BIGINT), CAST(max(v) AS BIGINT)
FROM px GROUP BY image_id
UNION ALL
-- the mirror band is a permutation of b1, so its whole-image stats are
-- identical by construction
SELECT image_id, CAST(3 AS BIGINT), 'mirror',
       count(*), CAST(sum(v) AS BIGINT),
       CAST(min(v) AS BIGINT), CAST(max(v) AS BIGINT)
FROM px GROUP BY image_id
"""


def _filter_bank_oracle(bank: dict | None = None) -> str:
    """UNION ALL of per-kernel conv oracles, tagged with kernel_id."""
    from .operators.imagemath import lm_full_bank

    if bank is None:
        bank = lm_full_bank()
    parts = []
    for name, k in bank.items():
        r = len(k) // 2
        term = _kernel_term(k)
        parts.append(f"""
SELECT image_id, '{name}' AS kernel_id, count(*) AS n_interior,
       CAST(sum(s) AS BIGINT) AS sum_conv,
       CAST(min(s) AS BIGINT) AS min_conv,
       CAST(max(s) AS BIGINT) AS max_conv
FROM (
  SELECT image_id, {term} AS s
  FROM (SELECT *, unnest(generate_series({r}, h - {r + 1})) AS y
        FROM (SELECT image_id, id, w, h, fmt,
                     unnest(generate_series({r}, w - {r + 1})) AS x
              FROM img WHERE id % 19 = 0)))
GROUP BY image_id""")
    return _PREFIX + "\n" + "\nUNION ALL\n".join(parts)


ORACLES["filter_bank"] = _filter_bank_oracle()


def _filter_bank15_oracle() -> str:
    from .operators.imagemath import LM15_SUBSET, lm_full_bank

    bank = lm_full_bank(15)
    return _filter_bank_oracle({k: bank[k] for k in LM15_SUBSET})


ORACLES["filter_bank15"] = _filter_bank15_oracle()

ORACLES["block_iter_batches"] = f"""
{_PREFIX},
g AS (
  SELECT image_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
         CAST(ceil(w / 48.0) AS BIGINT) AS cols,
         CAST(ceil(h / 48.0) AS BIGINT) AS rows_
  FROM img),
t AS (
  SELECT *, unnest(generate_series(0, cols * rows_ - 1)) AS block_idx FROM g),
c AS (
  SELECT *, greatest(least((block_idx % cols) * 48, w - 48), 0) AS x0,
            greatest(least((block_idx // cols) * 48, h - 48), 0) AS y0
  FROM t)
SELECT image_id, block_idx, block_idx // 8 AS batch_id,
       block_idx % 8 AS pos_in_batch, x0 AS bxmin, y0 AS bymin
FROM c
"""

_PXSRC_B2 = synth.pixel_value_sql("id", "(w - 1 - sx)", "sy", "fmt")

ORACLES["composite_max_ndvi"] = f"""
{_PREFIX},
gx AS (SELECT unnest(generate_series(0, 59)) AS px),
gy AS (SELECT unnest(generate_series(0, 59)) AS py),
grid AS (SELECT px, py, 10.0 + (px + 0.5) * 0.001 AS cx,
                45.0 + (py + 0.5) * 0.001 AS cy
         FROM gx, gy),
j AS (SELECT g.px, g.py, i.id, i.fmt, i.w,
             least(CAST(floor((g.cx - i.xmin) / 0.001) AS BIGINT),
                   i.w - 1) AS sx,
             least(CAST(floor((i.ymax - g.cy) / 0.001) AS BIGINT),
                   i.h - 1) AS sy
      FROM grid g JOIN imgf i
        ON i.id % 5 = 0
       AND g.cx >= i.xmin AND g.cx < i.xmax
       AND g.cy > i.ymin AND g.cy <= i.ymax),
v AS (SELECT px, py, id,
             {synth.pixel_value_sql("id", "sx", "sy", "fmt")} AS v,
             CAST(floor((({_PXSRC_B2} - {synth.pixel_value_sql("id", "sx", "sy", "fmt")}) * 1000000.0)
                        / ({_PXSRC_B2} + {synth.pixel_value_sql("id", "sx", "sy", "fmt")} + 1)) AS BIGINT) AS idx
      FROM j),
e AS (SELECT px, py, count(*) AS n_imgs,
             max({{'idx': idx, 'id': id, 'v': v}}) AS b
      FROM v GROUP BY px, py)
SELECT px, py, n_imgs, b.idx AS best_idx, b.id AS best_id, b.v AS best_v
FROM e
"""

ORACLES["mask_img_vec"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt, xmin, ymax,
              unnest(generate_series(0, w - 1)) AS x
       FROM imgf WHERE id % 7 = 0),
px AS (SELECT image_id,
              xmin + (x + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cx,
              ymax - (y + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cy,
              {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs))
SELECT image_id, count(*) AS n_in,
       CAST(sum(v) AS BIGINT) AS sum_in,
       CAST(min(v) AS BIGINT) AS min_in,
       CAST(max(v) AS BIGINT) AS max_in
FROM px p
WHERE EXISTS (SELECT 1 FROM zones z
              WHERE p.cx >= z.zxmin AND p.cx < z.zxmax
                AND p.cy >= z.zymin AND p.cy < z.zymax)
GROUP BY image_id
"""

# gaussian-family kernels: the integer kernels are operator PARAMETERS
# (like tile size 48) — the oracle shares the constants, not the
# execution path (Spark convolves numpy planes; DuckDB sums closed-form
# pixel expressions)
from .operators.imagemath import gaussian_kernel as _gk  # noqa: E402

ORACLES["filter_mean5"] = _conv_oracle(
    _kernel_term([[1] * 5] * 5), r=2)
ORACLES["filter_gauss5"] = _conv_oracle(_kernel_term(_gk(5, 0)), r=2)
ORACLES["filter_gauss_d1"] = _conv_oracle(_kernel_term(_gk(5, 1)), r=2)
ORACLES["filter_gauss_d2"] = _conv_oracle(_kernel_term(_gk(5, 2)), r=2)

_ALL9 = [_pxv_at(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]


def _morph_oracle(fn: str) -> str:
    term = f"{fn}({', '.join(_ALL9)})"
    return f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(1, w - 2)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM xs),
c AS (SELECT image_id, {term} AS s FROM pxy)
SELECT image_id, count(*) AS n_interior,
       CAST(sum(s) AS BIGINT) AS sum_m,
       CAST(min(s) AS BIGINT) AS min_m,
       CAST(max(s) AS BIGINT) AS max_m
FROM c GROUP BY image_id
"""


ORACLES["morph_dilate"] = _morph_oracle("greatest")
ORACLES["morph_erode"] = _morph_oracle("least")


def _morph2_term(outer: str, inner: str) -> str:
    """Two-pass morphology at (x, y): outer over the 3x3 ring of inner
    3x3 window extremes (open = greatest of leasts, close = least of
    greatests) — the exact composition morph_compound_stats runs."""
    outs = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            inner_vals = ", ".join(_pxv_at(dx + ex, dy + ey)
                                   for ey in (-1, 0, 1)
                                   for ex in (-1, 0, 1))
            outs.append(f"{inner}({inner_vals})")
    return f"{outer}({', '.join(outs)})"


_OPEN_T = _morph2_term("greatest", "least")
_CLOSE_T = _morph2_term("least", "greatest")

ORACLES["morph_open"] = _conv_oracle(_OPEN_T, r=2, suffix="m")
ORACLES["morph_close"] = _conv_oracle(_CLOSE_T, r=2, suffix="m")
ORACLES["morph_gradient"] = _conv_oracle(
    f"(greatest({', '.join(_ALL9)}) - least({', '.join(_ALL9)}))",
    r=1, suffix="m")
ORACLES["morph_tophat"] = _conv_oracle(
    f"({_pxv_at(0, 0)} - {_OPEN_T})", r=2, suffix="m")


def _pxv_mirror_at(dx: int, dy: int) -> str:
    ys = f"(y + {dy})" if dy else "y"
    return synth.pixel_value_sql("id", f"(w - 1 - (x + {dx}))", ys, "fmt")


def _corr_window_term() -> str:
    """3x3 Pearson r (x1000, floored) of plane vs mirror band — the
    exact integer-moment formula of corr_window3_stats."""
    va = [_pxv_at(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    vb = [_pxv_mirror_at(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    sx = "(" + " + ".join(va) + ")"
    sy = "(" + " + ".join(vb) + ")"
    sxx = "(" + " + ".join(f"({t}) * ({t})" for t in va) + ")"
    syy = "(" + " + ".join(f"({t}) * ({t})" for t in vb) + ")"
    sxy = "(" + " + ".join(f"({a}) * ({b})" for a, b in zip(va, vb)) + ")"
    num = f"(9 * {sxy} - {sx} * {sy})"
    # convert the exact int64 factors to DOUBLE BEFORE multiplying —
    # the same float64 product the kernel computes (each factor < 2^53,
    # so the conversions are exact; the int product would wrap for
    # 16-bit planes)
    d1 = f"CAST((9 * {sxx} - {sx} * {sx}) AS DOUBLE)"
    d2 = f"CAST((9 * {syy} - {sy} * {sy}) AS DOUBLE)"
    return (f"(CASE WHEN ({d1}) * ({d2}) > 0 THEN "
            f"CAST(floor(CAST({num} AS DOUBLE) * 1000.0"
            f" / sqrt(({d1}) * ({d2}))) AS BIGINT) "
            f"ELSE 0 END)")


ORACLES["corr_window"] = _conv_oracle(_corr_window_term(), r=1,
                                      suffix="r1000")


def _pxv_flip_at(dx: int, dy: int) -> str:
    xs = f"(x + {dx})" if dx else "x"
    ys = f"(h - 1 - (y + {dy}))" if dy else "(h - 1 - y)"
    return synth.pixel_value_sql("id", xs, ys, "fmt")


_WIN9 = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
_WMI_M1 = "least(" + ", ".join(_pxv_at(dx, dy) for dx, dy in _WIN9) + ")"
_WMI_M2 = "least(" + ", ".join(_pxv_mirror_at(dx, dy)
                               for dx, dy in _WIN9) + ")"
_WMI_M3 = "least(" + ", ".join(_pxv_flip_at(dx, dy)
                               for dx, dy in _WIN9) + ")"

# identify_min_pxl_value_in_win: 3x3 window min per band (b1 / mirror /
# flip), cross-band min + 1-based band ref with FIRST-band-wins ties
# (the kernel's strict < scan, RSGISCalcImageLocalMin.cpp:95-110).
ORACLES["win_min_idx"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(1, w - 2)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM xs),
m AS (SELECT image_id, {_WMI_M1} AS m1, {_WMI_M2} AS m2, {_WMI_M3} AS m3
      FROM pxy),
c AS (SELECT image_id, least(m1, m2, m3) AS mv,
             CASE WHEN m1 <= m2 AND m1 <= m3 THEN 1
                  WHEN m2 <= m3 THEN 2 ELSE 3 END AS br
      FROM m)
SELECT image_id, count(*) AS n_interior,
       CAST(sum(mv) AS BIGINT) AS sum_minval,
       CAST(min(mv) AS BIGINT) AS min_minval,
       CAST(max(mv) AS BIGINT) AS max_minval,
       CAST(sum(br) AS BIGINT) AS sum_bandref,
       CAST(sum(CASE WHEN br = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_band1
FROM c GROUP BY image_id
"""

_BL_X0 = "CASE WHEN nx < 0 THEN -1 ELSE nx // 96 END"
_BL_Y0 = "CASE WHEN ny < 0 THEN -1 ELSE ny // 64 END"


def _cr_w_sql(f: str, d: int, k: int) -> str:
    """Catmull-Rom tap-k weight scaled by 2*d^3 (integer polynomial)."""
    f3 = f"({f} * {f} * {f})"
    f2d = f"({f} * {f} * {d})"
    fd2 = f"({f} * {d * d})"
    if k == 0:
        return f"(-{f3} + 2 * {f2d} - {fd2})"
    if k == 1:
        return f"(3 * {f3} - 5 * {f2d} + {2 * d ** 3})"
    if k == 2:
        return f"(-3 * {f3} + 4 * {f2d} + {fd2})"
    return f"({f3} - {f2d})"


def _cubic_taps_sql() -> str:
    terms = []
    for ky in range(4):
        wy = _cr_w_sql("fy", 64, ky)
        yi = f"greatest(least(y0 + {ky - 1}, h - 1), 0)"
        for kx in range(4):
            wx = _cr_w_sql("fx", 96, kx)
            xi = f"greatest(least(x0 + {kx - 1}, w - 1), 0)"
            terms.append(
                f"{wy} * {wx} * "
                f"{synth.pixel_value_sql('id', xi, yi, 'fmt')}")
    return "(" + "\n + ".join(terms) + ")"


ORACLES["resize_cubic"] = f"""
{_PREFIX},
ox AS (SELECT unnest(generate_series(0, 47)) AS xo),
oy AS (SELECT unnest(generate_series(0, 31)) AS yo),
g AS (SELECT i.image_id, i.id, i.w, i.h, i.fmt, ox.xo, oy.yo
      FROM img i, ox, oy WHERE i.id % 7 = 0),
c AS (SELECT *, (2 * xo + 1) * w - 48 AS nx,
               (2 * yo + 1) * h - 32 AS ny FROM g),
d AS (SELECT *, {_BL_X0} AS x0, {_BL_Y0} AS y0 FROM c),
e AS (SELECT *, nx - x0 * 96 AS fx, ny - y0 * 64 AS fy FROM d),
v AS (SELECT image_id, {_cubic_taps_sql()} AS s FROM e)
SELECT image_id, count(*) AS n_out, CAST(sum(s) AS BIGINT) AS sum_sc,
       CAST(min(s) AS BIGINT) AS min_sc, CAST(max(s) AS BIGINT) AS max_sc
FROM v GROUP BY image_id
"""

def _bs_w_sql(f: str, d: int, k: int) -> str:
    """Cubic B-spline tap-k weight scaled by 6*d^3 (integer polynomial,
    the exact _bs_weights recurrence)."""
    f3 = f"({f} * {f} * {f})"
    f2d = f"({f} * {f} * {d})"
    fd2 = f"({f} * {d * d})"
    if k == 0:
        return f"({d ** 3} - 3 * {fd2} + 3 * {f2d} - {f3})"
    if k == 1:
        return f"(3 * {f3} - 6 * {f2d} + {4 * d ** 3})"
    if k == 2:
        return f"(-3 * {f3} + 3 * {f2d} + 3 * {fd2} + {d ** 3})"
    return f3


def _bspline_taps_sql(dx: int, dy: int) -> str:
    terms = []
    for ky in range(4):
        wy = _bs_w_sql("fy", dy, ky)
        yi = f"greatest(least(y0 + {ky - 1}, h - 1), 0)"
        for kx in range(4):
            wx = _bs_w_sql("fx", dx, kx)
            xi = f"greatest(least(x0 + {kx - 1}, w - 1), 0)"
            terms.append(
                f"{wy} * {wx} * "
                f"{synth.pixel_value_sql('id', xi, yi, 'fmt')}")
    return "(" + "\n + ".join(terms) + ")"


# INTERP_CUBICSPLINE at 24x16 (Dx=48, Dy=32 — sized so the scaled
# per-image SUM stays < 2^63 at the 36*Dx^3*Dy^3 weight scale).
ORACLES["resize_cubicspline"] = f"""
{_PREFIX},
ox AS (SELECT unnest(generate_series(0, 23)) AS xo),
oy AS (SELECT unnest(generate_series(0, 15)) AS yo),
g AS (SELECT i.image_id, i.id, i.w, i.h, i.fmt, ox.xo, oy.yo
      FROM img i, ox, oy WHERE i.id % 7 = 0),
c AS (SELECT *, (2 * xo + 1) * w - 24 AS nx,
               (2 * yo + 1) * h - 16 AS ny FROM g),
d AS (SELECT *, CASE WHEN nx < 0 THEN -1 ELSE nx // 48 END AS x0,
               CASE WHEN ny < 0 THEN -1 ELSE ny // 32 END AS y0 FROM c),
e AS (SELECT *, nx - x0 * 48 AS fx, ny - y0 * 32 AS fy FROM d),
v AS (SELECT image_id, {{bspline_taps}} AS s FROM e)
SELECT image_id, count(*) AS n_out, CAST(sum(s) AS BIGINT) AS sum_sc,
       CAST(min(s) AS BIGINT) AS min_sc, CAST(max(s) AS BIGINT) AS max_sc
FROM v GROUP BY image_id
""".replace("{bspline_taps}", _bspline_taps_sql(48, 32))


def _lanczos_values_sql(d: int, prefix: str) -> str:
    """VALUES table (f, 6 tap weights) from the SAME quantized integer
    table the Arrow kernel consumes (multimodal.lanczos_table) — the
    transcendental weights are computed once driver-side and inlined,
    so both engines see identical integers (determinism lesson 3)."""
    from .sources.multimodal import lanczos_table
    tab = lanczos_table(d)
    rows = ", ".join(
        "(" + ", ".join(str(int(v)) for v in (f, *tab[f])) + ")"
        for f in range(d))
    cols = ", ".join(f"{prefix}w{k}" for k in range(6))
    return f"(VALUES {rows}) AS {prefix}t({prefix}f, {cols})"


def _lanczos_taps_sql() -> str:
    terms = []
    for ky in range(6):
        yi = f"greatest(least(y0 + {ky - 2}, h - 1), 0)"
        for kx in range(6):
            xi = f"greatest(least(x0 + {kx - 2}, w - 1), 0)"
            terms.append(
                f"yw{ky} * xw{kx} * "
                f"{synth.pixel_value_sql('id', xi, yi, 'fmt')}")
    return "(" + "\n + ".join(terms) + ")"


# INTERP_LANCZOS at 48x32: join the per-axis quantized weight tables on
# the integer fractional offset, then the 6x6 tap sum.
ORACLES["resize_lanczos"] = f"""
{_PREFIX},
ox AS (SELECT unnest(generate_series(0, 47)) AS xo),
oy AS (SELECT unnest(generate_series(0, 31)) AS yo),
g AS (SELECT i.image_id, i.id, i.w, i.h, i.fmt, ox.xo, oy.yo
      FROM img i, ox, oy WHERE i.id % 7 = 0),
c AS (SELECT *, (2 * xo + 1) * w - 48 AS nx,
               (2 * yo + 1) * h - 32 AS ny FROM g),
d AS (SELECT *, {_BL_X0} AS x0, {_BL_Y0} AS y0 FROM c),
e AS (SELECT *, nx - x0 * 96 AS fx, ny - y0 * 64 AS fy FROM d),
j AS (SELECT e.*, xt.*, yt.* FROM e
      JOIN {_lanczos_values_sql(96, 'x')} ON e.fx = xt.xf
      JOIN {_lanczos_values_sql(64, 'y')} ON e.fy = yt.yf),
v AS (SELECT image_id, {_lanczos_taps_sql()} AS s FROM j)
SELECT image_id, count(*) AS n_out, CAST(sum(s) AS BIGINT) AS sum_sc,
       CAST(min(s) AS BIGINT) AS min_sc, CAST(max(s) AS BIGINT) AS max_sc
FROM v GROUP BY image_id
"""

ORACLES["resize_bilinear"] = f"""
{_PREFIX},
ox AS (SELECT unnest(generate_series(0, 47)) AS xo),
oy AS (SELECT unnest(generate_series(0, 31)) AS yo),
g AS (SELECT i.image_id, i.id, i.w, i.h, i.fmt, ox.xo, oy.yo
      FROM img i, ox, oy WHERE i.id % 7 = 0),
c AS (SELECT *, (2 * xo + 1) * w - 48 AS nx,
               (2 * yo + 1) * h - 32 AS ny FROM g),
d AS (SELECT *, {_BL_X0} AS x0, {_BL_Y0} AS y0 FROM c),
e AS (SELECT *, nx - x0 * 96 AS fx, ny - y0 * 64 AS fy,
        greatest(least(x0, w - 1), 0) AS x0c,
        greatest(least(x0 + 1, w - 1), 0) AS x1c,
        greatest(least(y0, h - 1), 0) AS y0c,
        greatest(least(y0 + 1, h - 1), 0) AS y1c FROM d),
v AS (SELECT image_id,
        (96 - fx) * (64 - fy) * {synth.pixel_value_sql('id', 'x0c', 'y0c', 'fmt')}
        + fx * (64 - fy) * {synth.pixel_value_sql('id', 'x1c', 'y0c', 'fmt')}
        + (96 - fx) * fy * {synth.pixel_value_sql('id', 'x0c', 'y1c', 'fmt')}
        + fx * fy * {synth.pixel_value_sql('id', 'x1c', 'y1c', 'fmt')} AS s
      FROM e)
SELECT image_id, count(*) AS n_out, CAST(sum(s) AS BIGINT) AS sum_sc,
       CAST(min(s) AS BIGINT) AS min_sc, CAST(max(s) AS BIGINT) AS max_sc
FROM v GROUP BY image_id
"""

# INTERP_AVERAGE: block partition ox = (x*16)//w, oy = (y*12)//h —
# the identical integer map the kernel's reduceat uses; output value is
# floor(block sum / block count).
ORACLES["resize_average"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, w, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 7 = 0),
px AS (SELECT image_id, (x * 16) // w AS ox, (y * 12) // h AS oy,
              {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
b AS (SELECT image_id, ox, oy,
             CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS mv
      FROM px GROUP BY image_id, ox, oy)
SELECT image_id, count(*) AS n_out,
       CAST(sum(mv) AS BIGINT) AS sum_sc,
       CAST(min(mv) AS BIGINT) AS min_sc,
       CAST(max(mv) AS BIGINT) AS max_sc
FROM b GROUP BY image_id
"""

# INTERP_MODE: per-block most frequent value, ties -> smallest (the
# kernel's bincount argmax first-wins tiebreak).
ORACLES["resize_mode"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, w, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 7 = 0),
px AS (SELECT image_id, (x * 16) // w AS ox, (y * 12) // h AS oy,
              {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
g AS (SELECT image_id, ox, oy, v, count(*) AS c
      FROM px GROUP BY image_id, ox, oy, v),
gm AS (SELECT *, max(c) OVER (PARTITION BY image_id, ox, oy) AS mc FROM g),
b AS (SELECT image_id, ox, oy, CAST(min(v) AS BIGINT) AS mv
      FROM gm WHERE c = mc GROUP BY image_id, ox, oy)
SELECT image_id, count(*) AS n_out,
       CAST(sum(mv) AS BIGINT) AS sum_sc,
       CAST(min(mv) AS BIGINT) AS min_sc,
       CAST(max(mv) AS BIGINT) AS max_sc
FROM b GROUP BY image_id
"""

ORACLES["psnr_check"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id, {_PXV} AS v,
              (({_PXV} + 2) // 4) * 4 - {_PXV} AS e
       FROM pxy),
s AS (SELECT image_id, count(*) AS n_pix,
             CAST(sum(e * e) AS BIGINT) AS sum_sq_err,
             CAST(max(abs(e)) AS BIGINT) AS max_abs_err,
             CAST(max(v) AS BIGINT) AS peak
      FROM px GROUP BY image_id)
SELECT image_id, n_pix, sum_sq_err, max_abs_err,
       (peak * peak * n_pix >= 10000 * sum_sq_err) AS psnr_ok
FROM s
"""

_S9 = " + ".join(_ALL9)
_SS9 = " + ".join(f"({t}) * ({t})" for t in _ALL9)

ORACLES["filter_texture_var"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(1, w - 2)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM xs),
c AS (SELECT image_id, 9 * ({_SS9}) - ({_S9}) * ({_S9}) AS s FROM pxy)
SELECT image_id, count(*) AS n_interior,
       CAST(sum(s) AS BIGINT) AS sum_var81,
       CAST(min(s) AS BIGINT) AS min_var81,
       CAST(max(s) AS BIGINT) AS max_var81
FROM c GROUP BY image_id
"""


# Lee 3x3: out_scaled = S*(var81 + 81*NV) + var81*(9*v - S), NV = 100
_LEE_S = f"({_S9})"
_LEE_V81 = f"(9 * ({_SS9}) - {_LEE_S} * {_LEE_S})"
ORACLES["filter_lee"] = _conv_oracle(
    f"({_LEE_S} * ({_LEE_V81} + 8100)"
    f" + {_LEE_V81} * (9 * {_pxv_at(0, 0)} - {_LEE_S}))",
    r=1, suffix="lee")

_SG5 = " + ".join(
    f"({c}) * {synth.pixel_value_sql('id', f'(x + {dx})' if dx else 'x', 'y', 'fmt')}"
    for dx, c in ((-2, -3), (-1, 12), (0, 17), (1, 12), (2, -3)))

ORACLES["spectral_smooth"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt,
              unnest(generate_series(2, w - 3)) AS x
       FROM img WHERE id % 19 = 0),
c AS (SELECT image_id, {_SG5} AS s
      FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs))
SELECT image_id, count(*) AS n_valid,
       CAST(sum(s) AS BIGINT) AS sum_sg35,
       CAST(min(s) AS BIGINT) AS min_sg35,
       CAST(max(s) AS BIGINT) AS max_sg35
FROM c GROUP BY image_id
"""

_PXV2 = synth.pixel_value_sql("id", "(w - 1 - x)", "y", "fmt")

ORACLES["ndvi_index"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id,
              CAST(floor((({_PXV2} - {_PXV}) * 1000000.0)
                         / ({_PXV2} + {_PXV} + 1)) AS BIGINT) AS o
       FROM pxy)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(o) AS BIGINT) AS sum_idx,
       CAST(min(o) AS BIGINT) AS min_idx,
       CAST(max(o) AS BIGINT) AS max_idx
FROM px GROUP BY image_id
"""

ORACLES["pxl_value_counts"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id, {_PXV} AS v FROM pxy)
SELECT CAST(v AS BIGINT) AS val, count(*) AS n
FROM px WHERE v < 40 GROUP BY v
"""

ORACLES["img_histogram"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id, {_PXV} AS v FROM pxy)
SELECT CAST(v // 64 AS BIGINT) AS bin, count(*) AS n
FROM px GROUP BY 1
"""

ORACLES["hist2d"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id, {_PXV} // 128 AS b1, {_PXV2} // 128 AS b2
       FROM pxy)
SELECT CAST(b1 AS BIGINT) AS b1, CAST(b2 AS BIGINT) AS b2, count(*) AS n
FROM px GROUP BY 1, 2
"""

ORACLES["valid_frac_rank"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id, CASE WHEN {_PXV} >= 512 THEN 1 ELSE 0 END AS v
       FROM pxy),
s AS (SELECT image_id, count(*) AS n_pix,
             CAST(sum(v) AS BIGINT) AS n_valid
      FROM px GROUP BY image_id),
r AS (SELECT image_id, n_pix, n_valid,
             CAST(n_valid AS DOUBLE) / CAST(n_pix AS DOUBLE) AS valid_frac,
             row_number() OVER (
               ORDER BY CAST(n_valid AS DOUBLE) / CAST(n_pix AS DOUBLE)
                 DESC, image_id) AS rank
      FROM s)
SELECT image_id, n_pix, n_valid, valid_frac, rank FROM r WHERE rank <= 10
"""

ORACLES["coarse_cell_stats"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 19 = 0),
px AS (SELECT image_id, x // 16 AS cx, y // 16 AS cy, {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs))
SELECT image_id, CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
       count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
       CAST(min(v) AS BIGINT) AS mn, CAST(max(v) AS BIGINT) AS mx
FROM px GROUP BY image_id, cx, cy
"""

ORACLES["stats_by_fmt"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id, fmt, {_PXV} AS v FROM pxy)
SELECT fmt, count(*) AS n_pix, CAST(sum(v) AS BIGINT) AS sum_pix,
       CAST(min(v) AS BIGINT) AS min_pix, CAST(max(v) AS BIGINT) AS max_pix,
       CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_pix
FROM px GROUP BY fmt
"""

ORACLES["band_percentiles"] = f"""
{_PREFIX},
{_px_cte()},
px AS (SELECT image_id, {_PXV} AS v FROM pxy),
hist AS (SELECT v, count(*) AS n FROM px GROUP BY v),
c AS (SELECT v, sum(n) OVER (ORDER BY v) AS cum, sum(n) OVER () AS total
      FROM hist),
ps AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS p)
SELECT p, CAST(min(v) AS BIGINT) AS value
FROM c, ps WHERE cum >= ceil(p * total) GROUP BY p
"""

ORACLES["zonal_stats"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt, xmin, ymax,
              unnest(generate_series(0, w - 1)) AS x
       FROM imgf WHERE id % 7 = 0),
px AS (SELECT image_id,
              xmin + (x + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cx,
              ymax - (y + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cy,
              {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
j AS (SELECT z.zone_id, p.v
      FROM px p JOIN zones z
        ON p.cx >= z.zxmin AND p.cx < z.zxmax
       AND p.cy >= z.zymin AND p.cy < z.zymax),
s AS (SELECT zone_id,
             CAST(count(*) AS DOUBLE) AS n_pix,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) AS sum_pix,
             CAST(min(v) AS DOUBLE) AS min_pix,
             CAST(max(v) AS DOUBLE) AS max_pix,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mean_pix,
             sqrt(CAST(CAST(sum(v * v) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)
                  - (CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE))
                    * (CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE))) AS stddev_pix,
             CAST(median(v) AS DOUBLE) AS median_pix
      FROM j GROUP BY zone_id)
SELECT z.zone_id, z.zname,
       coalesce(s.n_pix, -9999.0) AS n_pix,
       coalesce(s.sum_pix, -9999.0) AS sum_pix,
       coalesce(s.min_pix, -9999.0) AS min_pix,
       coalesce(s.max_pix, -9999.0) AS max_pix,
       coalesce(s.mean_pix, -9999.0) AS mean_pix,
       coalesce(s.stddev_pix, -9999.0) AS stddev_pix,
       coalesce(s.median_pix, -9999.0) AS median_pix
FROM zones z LEFT JOIN s ON z.zone_id = s.zone_id
"""

#: sub-pixel "tiny" zone layer (quarter-pixel half-width boxes around
#: each zone's center, ids offset by 1000) — exercises the
#: pixelContainsPoly / adaptive-small branches.  The half-width is
#: res/4 written as the SAME fp product both engines fold identically.
_TINY_ZONES_CTE = """
tiny AS (SELECT zone_id + 1000 AS zone_id, 'tiny_' || zname AS zname,
              (zxmin + zxmax) / CAST(2.0 AS DOUBLE)
                - CAST(0.001 AS DOUBLE) * CAST(0.25 AS DOUBLE) AS zxmin,
              (zxmin + zxmax) / CAST(2.0 AS DOUBLE)
                + CAST(0.001 AS DOUBLE) * CAST(0.25 AS DOUBLE) AS zxmax,
              (zymin + zymax) / CAST(2.0 AS DOUBLE)
                - CAST(0.001 AS DOUBLE) * CAST(0.25 AS DOUBLE) AS zymin,
              (zymin + zymax) / CAST(2.0 AS DOUBLE)
                + CAST(0.001 AS DOUBLE) * CAST(0.25 AS DOUBLE) AS zymax
         FROM zones),
mixed AS (SELECT zone_id, zname, zxmin, zxmax, zymin, zymax FROM zones
          UNION ALL SELECT * FROM tiny)"""


def _zonal_mode_oracle(join_pred: str, zones_src: str = "zones",
                       extra_cte: str = "") -> str:
    """zonal_stats oracle with a pluggable pixel-membership predicate
    over the pixel box edges (bx0/bx1 = x extent, by0/by1 = y extent;
    cx/cy = pixel centers, computed with the kernel's exact
    ``edge + (i + 0.5) * res`` association).  ``zones_src`` picks the
    zone relation (e.g. the tiny/mixed CTEs in ``extra_cte``)."""
    return f"""
{_PREFIX},{extra_cte}
xs AS (SELECT image_id, id, h, fmt, xmin, ymax,
              unnest(generate_series(0, w - 1)) AS x
       FROM imgf WHERE id % 7 = 0),
px AS (SELECT image_id,
              xmin + x * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS bx0,
              xmin + (x + 1) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS bx1,
              ymax - (y + 1) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS by0,
              ymax - y * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS by1,
              xmin + (x + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cx,
              ymax - (y + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cy,
              {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
j AS (SELECT z.zone_id, p.v
      FROM px p JOIN {zones_src} z ON {join_pred}),
s AS (SELECT zone_id,
             CAST(count(*) AS DOUBLE) AS n_pix,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) AS sum_pix,
             CAST(min(v) AS DOUBLE) AS min_pix,
             CAST(max(v) AS DOUBLE) AS max_pix,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mean_pix,
             sqrt(CAST(CAST(sum(v * v) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)
                  - (CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE))
                    * (CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE))) AS stddev_pix,
             CAST(median(v) AS DOUBLE) AS median_pix
      FROM j GROUP BY zone_id)
SELECT z.zone_id, z.zname,
       coalesce(s.n_pix, -9999.0) AS n_pix,
       coalesce(s.sum_pix, -9999.0) AS sum_pix,
       coalesce(s.min_pix, -9999.0) AS min_pix,
       coalesce(s.max_pix, -9999.0) AS max_pix,
       coalesce(s.mean_pix, -9999.0) AS mean_pix,
       coalesce(s.stddev_pix, -9999.0) AS stddev_pix,
       coalesce(s.median_pix, -9999.0) AS median_pix
FROM {zones_src} z LEFT JOIN s ON z.zone_id = s.zone_id
"""


ORACLES["zonal_envelope"] = _zonal_mode_oracle(
    "p.bx1 > z.zxmin AND p.bx0 < z.zxmax"
    " AND p.by1 > z.zymin AND p.by0 < z.zymax")
ORACLES["zonal_contains"] = _zonal_mode_oracle(
    "p.bx0 >= z.zxmin AND p.bx1 <= z.zxmax"
    " AND p.by0 >= z.zymin AND p.by1 <= z.zymax")

_PRED_CONTAINS = ("p.bx0 >= z.zxmin AND p.bx1 <= z.zxmax"
                  " AND p.by0 >= z.zymin AND p.by1 <= z.zymax")
_PRED_PIXCONT = ("p.bx0 <= z.zxmin AND p.bx1 >= z.zxmax"
                 " AND p.by0 <= z.zymin AND p.by1 >= z.zymax")
_PRED_CENTER = ("p.cx >= z.zxmin AND p.cx < z.zxmax"
                " AND p.cy >= z.zymin AND p.cy < z.zymax")
_ZAREA = "(z.zxmax - z.zxmin) * (z.zymax - z.zymin)"
_PXAREA = f"{_RD} * {_RD}"

# polyOverlapsOrContainsPixel: interiors intersect AND (pixel inside
# zone OR NOT zone-strictly-inside-pixel) — closed containment both
# sides; pixel == zone included, pixel-swallows-zone excluded (GEOS
# Overlaps|Contains on rects; RSGISPixelInPoly.cpp:63-74).
ORACLES["zonal_overlaps_contains"] = _zonal_mode_oracle(
    "p.bx1 > z.zxmin AND p.bx0 < z.zxmax"
    " AND p.by1 > z.zymin AND p.by0 < z.zymax"
    f" AND (({_PRED_CONTAINS}) OR NOT ({_PRED_PIXCONT}))")

# adaptive (RSGISPixelInPoly.cpp:97-120, factor=1): branch on zone area
# vs pixel area — larger zone -> polyContainsPixel, smaller ->
# pixelContainsPoly, equal -> pixel-center.  Runs over the mixed
# big+tiny zone layer so BOTH area branches execute.
ORACLES["zonal_adaptive"] = _zonal_mode_oracle(
    f"CASE WHEN {_ZAREA} > {_PXAREA} THEN {_PRED_CONTAINS}"
    f" WHEN {_ZAREA} < {_PXAREA} THEN {_PRED_PIXCONT}"
    f" ELSE {_PRED_CENTER} END",
    zones_src="mixed", extra_cte=_TINY_ZONES_CTE + ",")

# pixelContainsPoly over the tiny sub-pixel layer (a zone bigger than a
# pixel can never be contained, so the tiny layer is the live test).
ORACLES["zonal_pixcontains"] = _zonal_mode_oracle(
    _PRED_PIXCONT, zones_src="tiny", extra_cte=_TINY_ZONES_CTE + ",")

# pixelContainsPolyCenter (documented semantics: zone centroid strictly
# inside the pixel box — see zonal.py on the reference's cpp:84-92 bug).
ORACLES["zonal_pixcenter"] = _zonal_mode_oracle(
    "p.bx0 < (z.zxmin + z.zxmax) / CAST(2.0 AS DOUBLE)"
    " AND (z.zxmin + z.zxmax) / CAST(2.0 AS DOUBLE) < p.bx1"
    " AND p.by0 < (z.zymin + z.zymax) / CAST(2.0 AS DOUBLE)"
    " AND (z.zymin + z.zymax) / CAST(2.0 AS DOUBLE) < p.by1")

ORACLES["sjoin_salted"] = f"""
{_PREFIX}
SELECT i.image_id, z.zone_id, z.zname, i.lon, i.lat
FROM img i JOIN zones z ON {_PIP}
"""

ORACLES["sjoin_polygon"] = f"""
{_PREFIX}
SELECT i.image_id, z.zone_id AS poly_id
FROM img i JOIN zones z
  ON {_PIP}
 AND ((z.zymin > i.lat) != (z.zymax > i.lat))
 AND i.lon < z.zxmax + (i.lat - z.zymin) * (z.zxmin - z.zxmax)
                         / (z.zymax - z.zymin)
"""

ORACLES["sjoin_left_intersects"] = f"""
{_PREFIX}
SELECT i.image_id, i.lon, i.lat, z.zone_id AS index_right, z.zname
FROM img i LEFT JOIN zones z ON {_PIP}
"""

ORACLES["sjoin_right_within"] = f"""
{_PREFIX}
SELECT z.zone_id, z.zname, i.image_id
FROM zones z LEFT JOIN img i ON {_PIP}
"""

_BBOX_X = ("i.xmax > z.zxmin AND z.zxmax > i.xmin AND "
           "i.ymax > z.zymin AND z.zymax > i.ymin")

ORACLES["sjoin_bbox_intersects"] = f"""
{_PREFIX}
SELECT i.image_id, z.zone_id, z.zname
FROM imgf i JOIN zones z ON {_BBOX_X}
"""

ORACLES["spatial_select"] = f"""
{_PREFIX}
SELECT i.image_id, i.lon, i.lat
FROM imgf i
WHERE EXISTS (SELECT 1 FROM zones z WHERE {_BBOX_X})
"""

ORACLES["zone_geom_cols"] = f"""
{_PREFIX}
SELECT zone_id,
       zxmax - zxmin AS g_width, zymax - zymin AS g_height,
       (zxmax - zxmin) * (zymax - zymin) AS g_area,
       (zxmin + zxmax) / 2.0 AS g_cx, (zymin + zymax) / 2.0 AS g_cy,
       zxmin - 0.25 AS b_xmin, zxmax + 0.25 AS b_xmax,
       zymin - 0.25 AS b_ymin, zymax + 0.25 AS b_ymax
FROM zones
"""

_MODX = "(CASE WHEN {c} + 520.0 >= 0 THEN fmod({c} + 520.0, 360.0) " \
        "ELSE fmod({c} + 520.0, 360.0) + 360.0 END - 180.0)"

ORACLES["unwrap_bbox"] = f"""
{_PREFIX},
sh AS (SELECT zone_id,
              {_MODX.format(c="zxmin")} AS sxmin,
              {_MODX.format(c="zxmax")} AS sxmax
       FROM zones)
SELECT zone_id, CAST(0 AS BIGINT) AS part,
       sxmin AS pxmin,
       CASE WHEN sxmin > sxmax THEN 180.0 ELSE sxmax END AS pxmax
FROM sh
UNION ALL
SELECT zone_id, CAST(1 AS BIGINT) AS part, -180.0 AS pxmin, sxmax AS pxmax
FROM sh WHERE sxmin > sxmax
"""

ORACLES["bbox_algebra"] = f"""
{_PREFIX}
SELECT a.zone_id AS zone_a, b.zone_id AS zone_b,
       greatest(a.zxmin, b.zxmin) AS ixmin,
       least(a.zxmax, b.zxmax) AS ixmax,
       greatest(a.zymin, b.zymin) AS iymin,
       least(a.zymax, b.zymax) AS iymax,
       (least(a.zxmax, b.zxmax) - greatest(a.zxmin, b.zxmin))
         * (least(a.zymax, b.zymax) - greatest(a.zymin, b.zymin)) AS i_area,
       least(a.zxmin, b.zxmin) AS uxmin,
       greatest(a.zxmax, b.zxmax) AS uxmax,
       least(a.zymin, b.zymin) AS uymin,
       greatest(a.zymax, b.zymax) AS uymax
FROM zones a JOIN zones b
  ON a.zone_id < b.zone_id
 AND a.zxmax > b.zxmin AND b.zxmax > a.zxmin
 AND a.zymax > b.zymin AND b.zymax > a.zymin
"""

from .operators.overlay import clip_rect_expr_sql as _clip_sql  # noqa: E402

_CLIP_D = _clip_sql("duckdb", "verts", "rxmin", "rxmax", "rymin", "rymax")

ORACLES["overlay_intersection"] = f"""
{_PREFIX},
tri AS (SELECT zone_id AS poly_id,
               [[zxmin, zymin], [zxmax, zymin], [zxmin, zymax]] AS verts,
               zxmin AS pxmin, zxmax AS pxmax,
               zymin AS pymin, zymax AS pymax
        FROM zones),
grid AS (SELECT gid AS rect_id,
                -180.0 + (gid % 36) * 10.0 AS rxmin,
                least(-180.0 + (gid % 36 + 1) * 10.0, 180.0) AS rxmax,
                -60.0 + (gid // 36) * 10.0 AS rymin,
                least(-60.0 + (gid // 36 + 1) * 10.0, 60.0) AS rymax
         FROM (SELECT unnest(generate_series(0, 431)) AS gid)),
cand AS (SELECT t.poly_id, g.rect_id, t.verts,
                g.rxmin, g.rxmax, g.rymin, g.rymax
         FROM tri t JOIN grid g
           ON t.pxmax > g.rxmin AND g.rxmax > t.pxmin
          AND t.pymax > g.rymin AND g.rymax > t.pymin),
clipped AS (SELECT poly_id, rect_id,
                   flatten(list_transform([{_CLIP_D}], _f ->
                     CASE WHEN len(_f) >= 3 THEN _f
                          ELSE CAST([] AS DOUBLE[][]) END)) AS cl
            FROM cand),
ex AS (SELECT poly_id, rect_id,
              unnest(generate_series(1, len(cl))) AS v_idx, cl
       FROM clipped)
SELECT poly_id, rect_id, CAST(v_idx AS BIGINT) AS v_idx,
       list_extract(cl, v_idx)[1] AS vx,
       list_extract(cl, v_idx)[2] AS vy
FROM ex
"""

from .operators.overlay import diff_region_exprs_sql as _diff_sql  # noqa: E402

_BAND_D = ("(SELECT CAST(1 AS BIGINT) AS rect_id, "
           "CAST(-40.0 AS DOUBLE) AS rxmin, CAST(40.0 AS DOUBLE) AS rxmax, "
           "CAST(-15.0 AS DOUBLE) AS rymin, CAST(15.0 AS DOUBLE) AS rymax)")

_P0, _P1, _P2, _P3 = _diff_sql("duckdb", "verts",
                               "rxmin", "rxmax", "rymin", "rymax")

ORACLES["overlay_difference"] = f"""
{_PREFIX},
tri AS (SELECT zone_id AS poly_id,
               [[zxmin, zymin], [zxmax, zymin], [zxmin, zymax]] AS verts,
               zxmin AS pxmin, zxmax AS pxmax,
               zymin AS pymin, zymax AS pymax
        FROM zones),
band AS {_BAND_D},
cand AS (SELECT t.poly_id, b.rect_id, t.verts,
                b.rxmin, b.rxmax, b.rymin, b.rymax
         FROM tri t JOIN band b
           ON t.pxmax > b.rxmin AND b.rxmax > t.pxmin
          AND t.pymax > b.rymin AND b.rymax > t.pymin),
parts AS (SELECT poly_id, rect_id, pi,
                 list_extract([{_P0}, {_P1}, {_P2}, {_P3}], pi) AS pl
          FROM cand, (SELECT unnest(generate_series(1, 4)) AS pi)),
kept AS (SELECT poly_id, rect_id, CAST(pi AS BIGINT) AS part_idx, pl
         FROM parts WHERE len(pl) >= 3),
unm AS (SELECT t.poly_id, CAST(NULL AS BIGINT) AS rect_id,
               CAST(0 AS BIGINT) AS part_idx, t.verts AS pl
        FROM tri t WHERE NOT EXISTS (SELECT 1 FROM band b
          WHERE t.pxmax > b.rxmin AND b.rxmax > t.pxmin
            AND t.pymax > b.rymin AND b.rymax > t.pymin)),
allp AS (SELECT * FROM kept UNION ALL SELECT * FROM unm),
ex AS (SELECT poly_id, rect_id, part_idx,
              unnest(generate_series(1, len(pl))) AS v_idx, pl FROM allp)
SELECT poly_id, rect_id, part_idx, CAST(v_idx AS BIGINT) AS v_idx,
       list_extract(pl, v_idx)[1] AS vx, list_extract(pl, v_idx)[2] AS vy
FROM ex
"""


def _rect_erase_sql(p: str, base: str, erase: str, key: str) -> str:
    """DuckDB twin of operators.overlay.rect_erase (same slab/gap
    algebra, comparisons only).  ``base``: CTE (key, bx0,bx1,by0,by1);
    ``erase``: CTE (ex0,ex1,ey0,ey1).  Emits CTEs ending in
    ``{p}parts`` (key, part_idx, rxmin, rxmax, rymin, rymax)."""
    return f"""
{p}box AS (SELECT DISTINCT b.{key}, b.bx0, b.bx1, b.by0, b.by1,
                greatest(e.ex0, b.bx0) AS cx0, least(e.ex1, b.bx1) AS cx1,
                greatest(e.ey0, b.by0) AS cy0, least(e.ey1, b.by1) AS cy1
           FROM {base} b JOIN {erase} e
             ON b.bx1 > e.ex0 AND e.ex1 > b.bx0
            AND b.by1 > e.ey0 AND e.ey1 > b.by0),
{p}bps AS (SELECT DISTINCT {key}, unnest([cx0, cx1, bx0, bx1]) AS x
           FROM {p}box),
{p}slab AS (SELECT * FROM (SELECT {key}, x,
              lead(x) OVER (PARTITION BY {key} ORDER BY x) AS xn
              FROM {p}bps) WHERE xn IS NOT NULL),
{p}sb AS (SELECT s.{key}, s.x, s.xn, bo.cy0, bo.cy1
          FROM {p}slab s LEFT JOIN {p}box bo
            ON bo.{key} = s.{key} AND bo.cx0 <= s.x AND bo.cx1 >= s.xn),
{p}sbe AS (SELECT q.*, b.by0, b.by1 FROM {p}sb q JOIN {base} b USING ({key})),
{p}gb AS (SELECT {key}, x AS rxmin, xn AS rxmax,
               greatest(coalesce(max(cy1) OVER (PARTITION BY {key}, x
                 ORDER BY cy0 NULLS LAST, cy1 NULLS LAST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), by0),
                 by0) AS rymin,
               cy0 AS rymax
          FROM {p}sbe WHERE cy0 IS NOT NULL),
{p}ga AS (SELECT {key}, x AS rxmin, xn AS rxmax,
               coalesce(max(cy1), min(by0)) AS rymin, min(by1) AS rymax
          FROM {p}sbe GROUP BY {key}, x, xn),
{p}unt AS (SELECT b.{key}, b.bx0 AS rxmin, b.bx1 AS rxmax,
                b.by0 AS rymin, b.by1 AS rymax
           FROM {base} b WHERE NOT EXISTS (SELECT 1 FROM {erase} e
             WHERE b.bx1 > e.ex0 AND e.ex1 > b.bx0
               AND b.by1 > e.ey0 AND e.ey1 > b.by0)),
{p}parts AS (SELECT {key},
                  CAST(row_number() OVER (PARTITION BY {key}
                       ORDER BY rxmin, rymin) AS BIGINT) AS part_idx,
                  rxmin, rxmax, rymin, rymax
             FROM (SELECT * FROM {p}gb WHERE rymin < rymax
                   UNION ALL SELECT * FROM {p}ga WHERE rymin < rymax
                   UNION ALL SELECT * FROM {p}unt))"""


ORACLES["overlay_erase"] = f"""
{_PREFIX},
gbase AS (SELECT gid AS grid_id,
       -180.0 + (gid % 36) * 10.0 AS bx0,
       least(-180.0 + (gid % 36 + 1) * 10.0, 180.0) AS bx1,
       -60.0 + (gid // 36) * 10.0 AS by0,
       least(-60.0 + (gid // 36 + 1) * 10.0, 60.0) AS by1
  FROM (SELECT unnest(generate_series(0, 431)) AS gid)),
zer AS (SELECT zxmin AS ex0, zxmax AS ex1, zymin AS ey0, zymax AS ey1
        FROM zones),
{_rect_erase_sql('e1', 'gbase', 'zer', 'grid_id')}
SELECT grid_id, part_idx, rxmin, rxmax, rymin, rymax FROM e1parts
"""

ORACLES["overlay_sym_difference"] = f"""
{_PREFIX},
za AS (SELECT zone_id AS fid, zxmin AS bx0, zxmax AS bx1,
              zymin AS by0, zymax AS by1 FROM zones),
bandE AS (SELECT CAST(-40.0 AS DOUBLE) AS ex0, CAST(40.0 AS DOUBLE) AS ex1,
                 CAST(-15.0 AS DOUBLE) AS ey0, CAST(15.0 AS DOUBLE) AS ey1),
{_rect_erase_sql('sa', 'za', 'bandE', 'fid')},
bb AS (SELECT CAST(1 AS BIGINT) AS fid,
              CAST(-40.0 AS DOUBLE) AS bx0, CAST(40.0 AS DOUBLE) AS bx1,
              CAST(-15.0 AS DOUBLE) AS by0, CAST(15.0 AS DOUBLE) AS by1),
zaE AS (SELECT zxmin AS ex0, zxmax AS ex1, zymin AS ey0, zymax AS ey1
        FROM zones),
{_rect_erase_sql('sc', 'bb', 'zaE', 'fid')}
SELECT 'a' AS side, fid AS feat_id, part_idx, rxmin, rxmax, rymin, rymax
FROM saparts
UNION ALL
SELECT 'b' AS side, fid AS feat_id, part_idx, rxmin, rxmax, rymin, rymax
FROM scparts
"""

ORACLES["overlay_union"] = f"""
{_PREFIX},
za AS (SELECT zone_id AS fid, zxmin AS bx0, zxmax AS bx1,
              zymin AS by0, zymax AS by1 FROM zones),
bandE AS (SELECT CAST(-40.0 AS DOUBLE) AS ex0, CAST(40.0 AS DOUBLE) AS ex1,
                 CAST(-15.0 AS DOUBLE) AS ey0, CAST(15.0 AS DOUBLE) AS ey1),
{_rect_erase_sql('sa', 'za', 'bandE', 'fid')},
bb AS (SELECT CAST(1 AS BIGINT) AS fid,
              CAST(-40.0 AS DOUBLE) AS bx0, CAST(40.0 AS DOUBLE) AS bx1,
              CAST(-15.0 AS DOUBLE) AS by0, CAST(15.0 AS DOUBLE) AS by1),
zaE AS (SELECT zxmin AS ex0, zxmax AS ex1, zymin AS ey0, zymax AS ey1
        FROM zones),
{_rect_erase_sql('sc', 'bb', 'zaE', 'fid')},
ib AS (SELECT 'int' AS kind, z.zone_id AS a_id, CAST(1 AS BIGINT) AS b_id,
              greatest(z.zxmin, CAST(-40.0 AS DOUBLE)) AS rxmin,
              least(z.zxmax, CAST(40.0 AS DOUBLE)) AS rxmax,
              greatest(z.zymin, CAST(-15.0 AS DOUBLE)) AS rymin,
              least(z.zymax, CAST(15.0 AS DOUBLE)) AS rymax,
              CAST(1 AS BIGINT) AS part_idx
       FROM zones z
       WHERE z.zxmax > CAST(-40.0 AS DOUBLE)
         AND CAST(40.0 AS DOUBLE) > z.zxmin
         AND z.zymax > CAST(-15.0 AS DOUBLE)
         AND CAST(15.0 AS DOUBLE) > z.zymin)
SELECT kind, a_id, b_id, part_idx, rxmin, rxmax, rymin, rymax FROM ib
UNION ALL
SELECT 'a' AS kind, fid AS a_id, CAST(NULL AS BIGINT) AS b_id, part_idx,
       rxmin, rxmax, rymin, rymax FROM saparts
UNION ALL
SELECT 'b' AS kind, CAST(NULL AS BIGINT) AS a_id, fid AS b_id, part_idx,
       rxmin, rxmax, rymin, rymax FROM scparts
"""

from .operators.geomtransforms import (ring_area2_sql as _ra2,  # noqa: E402
                                       simplify_ring_sql as _simp)
from .operators.geomtransforms import ring_centroid_sql  # noqa: E402


def _centroid_d(ring: str, axis: int) -> str:
    return ring_centroid_sql("duckdb", ring, axis)

_RECT_D = ("[[zxmin, zymin], [zxmax, zymin], [zxmax, zymax], "
           "[zxmin, zymax]]")
_TRI_D = "[[zxmin, zymin], [zxmax, zymin], [zxmin, zymax]]"

ORACLES["shift_layer"] = f"""
{_PREFIX}
SELECT qid, qlon + CAST(0.25 AS DOUBLE) AS sx,
       qlat + CAST(-0.125 AS DOUBLE) AS sy
FROM qpts
"""

ORACLES["poly_polyline"] = f"""
{_PREFIX},
tri AS (SELECT zone_id AS poly_id,
               [[zxmin, zymin], [zxmax, zymin], [zxmin, zymax],
                [zxmin, zymin]] AS cl
        FROM zones),
e AS (SELECT poly_id, unnest(generate_series(1, len(cl))) AS v_idx, cl
      FROM tri)
SELECT poly_id, CAST(v_idx AS BIGINT) AS v_idx,
       list_extract(cl, v_idx)[1] AS vx, list_extract(cl, v_idx)[2] AS vy
FROM e
"""

ORACLES["explode_multi"] = f"""
{_PREFIX},
m AS (SELECT zone_id AS geom_id, [{_RECT_D}, {_TRI_D}] AS parts
      FROM zones),
e AS (SELECT geom_id, unnest(generate_series(1, len(parts))) AS part_idx,
             parts
      FROM m),
r AS (SELECT geom_id, part_idx,
             list_extract(parts, part_idx) AS ring
      FROM e)
SELECT geom_id, CAST(part_idx AS BIGINT) AS part_idx,
       CAST(len(ring) AS BIGINT) AS n_verts,
       abs({_ra2('duckdb', 'ring')}) / 2.0 AS area
FROM r
"""

_W_D, _H_D = "(zxmax - zxmin)", "(zymax - zymin)"
_HOLE1_D = (f"[[zxmin + {_W_D}*0.25, zymin + {_H_D}*0.25], "
            f"[zxmin + {_W_D}*0.5, zymin + {_H_D}*0.25], "
            f"[zxmin + {_W_D}*0.5, zymin + {_H_D}*0.5], "
            f"[zxmin + {_W_D}*0.25, zymin + {_H_D}*0.5]]")
_HOLE2_D = (f"[[zxmin + {_W_D}*0.1, zymin + {_H_D}*0.1], "
            f"[zxmin + {_W_D}*0.12, zymin + {_H_D}*0.1], "
            f"[zxmin + {_W_D}*0.12, zymin + {_H_D}*0.12], "
            f"[zxmin + {_W_D}*0.1, zymin + {_H_D}*0.12]]")

ORACLES["remove_holes"] = f"""
{_PREFIX},
m AS (SELECT zone_id AS geom_id,
             [{_RECT_D}, {_HOLE1_D}, {_HOLE2_D}] AS rings
      FROM zones),
e AS (SELECT geom_id, unnest(generate_series(1, len(rings))) AS ridx,
             rings
      FROM m),
r AS (SELECT geom_id, ridx, list_extract(rings, ridx) AS ring FROM e),
a AS (SELECT geom_id, ridx, ring,
             abs({_ra2('duckdb', 'ring')}) / 2.0 AS area
      FROM r),
k AS (SELECT * FROM a WHERE ridx = 1 OR area >= 0.1)
SELECT geom_id,
       CAST(row_number() OVER (PARTITION BY geom_id ORDER BY ridx)
            AS BIGINT) AS ring_idx,
       CAST(len(ring) AS BIGINT) AS n_verts, area
FROM k
"""

_MX_D, _MY_D = "((zxmin + zxmax) / 2.0)", "((zymin + zymax) / 2.0)"
_OCTO_D = (f"[[zxmin, zymin], [{_MX_D}, zymin], [zxmax, zymin], "
           f"[zxmax, {_MY_D}], [zxmax, zymax], [{_MX_D}, zymax], "
           f"[zxmin, zymax], [zxmin, {_MY_D}]]")

ORACLES["simplify_geom"] = f"""
{_PREFIX},
p AS (SELECT zone_id AS poly_id, {_OCTO_D} AS verts FROM zones),
s AS (SELECT poly_id, {_simp('duckdb', 'verts', 1e-9)} AS cl FROM p),
e AS (SELECT poly_id, unnest(generate_series(1, len(cl))) AS v_idx, cl
      FROM s)
SELECT poly_id, CAST(v_idx AS BIGINT) AS v_idx,
       list_extract(cl, v_idx)[1] AS vx, list_extract(cl, v_idx)[2] AS vy
FROM e
"""

def _tri_intersect_pred() -> str:
    """Triangle-vs-triangle intersects predicate over pair columns
    (axmn/axmx/aymn/aymx, bxmn/...), unrolled to plain arithmetic —
    GEOS-style ``intersects`` for two simple polygons: first-vertex
    PIP both ways, or any of the 3x3 proper edge crossings."""
    ta = [("axmn", "aymn"), ("axmx", "aymn"), ("axmn", "aymx")]
    tb = [("bxmn", "bymn"), ("bxmx", "bymn"), ("bxmn", "bymx")]

    def pip(px, py, tri):
        edges = [(tri[-1], tri[0]), (tri[0], tri[1]), (tri[1], tri[2])]
        terms = []
        for (x1, y1), (x2, y2) in edges:
            terms.append(
                f"CASE WHEN (({y1} > {py}) != ({y2} > {py})) AND "
                f"{px} < {x1} + ({py} - {y1}) * ({x2} - {x1})"
                f" / ({y2} - {y1}) THEN 1 ELSE 0 END")
        return f"((({') + ('.join(terms)})) % 2 = 1)"

    def orient(a, b, c):
        return (f"(({b[0]} - {a[0]}) * ({c[1]} - {a[1]})"
                f" - ({b[1]} - {a[1]}) * ({c[0]} - {a[0]}))")

    hits = []
    ea = [(ta[i], ta[(i + 1) % 3]) for i in range(3)]
    eb = [(tb[i], tb[(i + 1) % 3]) for i in range(3)]
    for p1, p2 in ea:
        for q1, q2 in eb:
            d1, d2 = orient(p1, p2, q1), orient(p1, p2, q2)
            d3, d4 = orient(q1, q2, p1), orient(q1, q2, p2)
            hits.append(f"((({d1} > 0) != ({d2} > 0))"
                        f" AND (({d3} > 0) != ({d4} > 0)))")
    return (f"({pip(ta[0][0], ta[0][1], tb)}"
            f" OR {pip(tb[0][0], tb[0][1], ta)}"
            f" OR {' OR '.join(hits)})")


ORACLES["vec_intersects"] = f"""
{_PREFIX},
pair AS (SELECT a.zone_id AS za,
                a.zxmin AS axmn, a.zxmax AS axmx,
                a.zymin AS aymn, a.zymax AS aymx,
                b.zxmin AS bxmn, b.zxmax AS bxmx,
                b.zymin AS bymn, b.zymax AS bymx
         FROM zones a JOIN zones b
           ON a.zone_id != b.zone_id
          AND a.zxmax >= b.zxmin AND b.zxmax >= a.zxmin
          AND a.zymax >= b.zymin AND b.zymax >= a.zymin),
hit AS (SELECT za,
               CASE WHEN {_tri_intersect_pred()} THEN 1 ELSE 0 END AS h
        FROM pair),
agg AS (SELECT za, CAST(sum(h) AS BIGINT) AS n FROM hit GROUP BY za)
SELECT z.zone_id, coalesce(a.n, 0) AS n_intersecting,
       coalesce(a.n, 0) > 0 AS any_intersects
FROM zones z LEFT JOIN agg a ON z.zone_id = a.za
"""

# vec_within_vec: a triangle's vertices span its zone bbox, so "every
# vertex inside-or-on the rect and no proper crossing" is EXACTLY
# inclusive bbox containment (convexity makes crossings impossible once
# all vertices are inside) — the self pair is within by construction.
ORACLES["vec_within"] = f"""
{_PREFIX},
w AS (SELECT a.zone_id, count(*) AS n
      FROM zones a JOIN zones b
        ON a.zxmin >= b.zxmin AND a.zxmax <= b.zxmax
       AND a.zymin >= b.zymin AND a.zymax <= b.zymax
      GROUP BY a.zone_id)
SELECT z.zone_id, CAST(coalesce(w.n, 0) AS BIGINT) AS n_within,
       coalesce(w.n, 0) > 0 AS any_within
FROM zones z LEFT JOIN w ON z.zone_id = w.zone_id
"""

# vec_contains_vec: rect a contains triangle b <=> b's bbox within a's
# (the triangle is the lower-left half of its bbox, so vertex inclusion
# == bbox inclusion, and no proper crossing is then possible; boundary
# sharing allowed — mirror of the vec_within reduction).
ORACLES["vec_contains"] = f"""
{_PREFIX},
w AS (SELECT a.zone_id, count(*) AS n
      FROM zones a JOIN zones b
        ON b.zxmin >= a.zxmin AND b.zxmax <= a.zxmax
       AND b.zymin >= a.zymin AND b.zymax <= a.zymax
      GROUP BY a.zone_id)
SELECT z.zone_id, CAST(coalesce(w.n, 0) AS BIGINT) AS n_contains,
       coalesce(w.n, 0) > 0 AS any_contains
FROM zones z LEFT JOIN w ON z.zone_id = w.zone_id
"""

# vec_crosses_vec on polygon layers: OGC DE-9IM crosses is identically
# FALSE for area/area pairs — geopandas/GEOS return all-False on the
# reference's polygon inputs, and so does the engine.
ORACLES["vec_crosses"] = f"""
{_PREFIX}
SELECT zone_id, CAST(0 AS BIGINT) AS n_crosses, FALSE AS any_crosses
FROM zones
"""


def _tri_pair_parts() -> dict:
    """SQL pieces for triangle-pair predicates over pair columns
    (axmn/axmx/aymn/aymx vs bxmn/...): per-vertex PIP each way and the
    STRICT proper-crossing test — the exact formulas of
    geo.geometry.poly_pair_flags (generic position: no boundary
    contact, so strict interior == crossing-number interior)."""
    ta = [("axmn", "aymn"), ("axmx", "aymn"), ("axmn", "aymx")]
    tb = [("bxmn", "bymn"), ("bxmx", "bymn"), ("bxmn", "bymx")]

    def pip(px, py, tri):
        edges = [(tri[-1], tri[0]), (tri[0], tri[1]), (tri[1], tri[2])]
        terms = []
        for (x1, y1), (x2, y2) in edges:
            terms.append(
                f"CASE WHEN (({y1} > {py}) != ({y2} > {py})) AND "
                f"{px} < {x1} + ({py} - {y1}) * ({x2} - {x1})"
                f" / ({y2} - {y1}) THEN 1 ELSE 0 END")
        return f"((({') + ('.join(terms)})) % 2 = 1)"

    def orient(a, b, c):
        return (f"(({b[0]} - {a[0]}) * ({c[1]} - {a[1]})"
                f" - ({b[1]} - {a[1]}) * ({c[0]} - {a[0]}))")

    hits = []
    ea = [(ta[i], ta[(i + 1) % 3]) for i in range(3)]
    eb = [(tb[i], tb[(i + 1) % 3]) for i in range(3)]
    for p1, p2 in ea:
        for q1, q2 in eb:
            d1, d2 = orient(p1, p2, q1), orient(p1, p2, q2)
            d3, d4 = orient(q1, q2, p1), orient(q1, q2, p2)
            hits.append(
                f"((({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0))"
                f" AND (({d3} > 0 AND {d4} < 0)"
                f" OR ({d3} < 0 AND {d4} > 0)))")
    a_in = [pip(v[0], v[1], tb) for v in ta]
    b_in = [pip(v[0], v[1], ta) for v in tb]
    return {
        "cross": f"({' OR '.join(hits)})",
        "a_any": f"({' OR '.join(a_in)})",
        "a_all": f"({' AND '.join(a_in)})",
        "b_any": f"({' OR '.join(b_in)})",
        "b_all": f"({' AND '.join(b_in)})",
    }


def _tri_overlaps_pred() -> str:
    p = _tri_pair_parts()
    interior = f"({p['cross']} OR {p['a_any']} OR {p['b_any']})"
    win_ab = f"({p['a_all']} AND NOT {p['cross']})"
    win_ba = f"({p['b_all']} AND NOT {p['cross']})"
    return f"({interior} AND NOT {win_ab} AND NOT {win_ba})"


ORACLES["vec_overlaps"] = f"""
{_PREFIX},
pair AS (SELECT a.zone_id AS za,
                a.zxmin AS axmn, a.zxmax AS axmx,
                a.zymin AS aymn, a.zymax AS aymx,
                b.zxmin AS bxmn, b.zxmax AS bxmx,
                b.zymin AS bymn, b.zymax AS bymx
         FROM zones a JOIN zones b
           ON a.zone_id != b.zone_id
          AND a.zxmax >= b.zxmin AND b.zxmax >= a.zxmin
          AND a.zymax >= b.zymin AND b.zymax >= a.zymin),
hit AS (SELECT za,
               CASE WHEN {_tri_overlaps_pred()} THEN 1 ELSE 0 END AS h
        FROM pair),
agg AS (SELECT za, CAST(sum(h) AS BIGINT) AS n FROM hit GROUP BY za)
SELECT z.zone_id, coalesce(a.n, 0) AS n_overlapping,
       coalesce(a.n, 0) > 0 AS any_overlaps
FROM zones z LEFT JOIN agg a ON z.zone_id = a.za
"""

# vec_touches_vec on the world grid: disjoint-interior rects touch iff
# their bboxes overlap inclusively but not strictly (shared edge or
# corner, exact double equality — both engines compute the grid bounds
# with the identical expression).
ORACLES["vec_touches"] = """
WITH g AS (SELECT gid AS grid_id,
       -180.0 + (gid % 36) * 10.0 AS gxmin,
       least(-180.0 + (gid % 36 + 1) * 10.0, 180.0) AS gxmax,
       -60.0 + (gid // 36) * 10.0 AS gymin,
       least(-60.0 + (gid // 36 + 1) * 10.0, 60.0) AS gymax
FROM (SELECT unnest(generate_series(0, 431)) AS gid)),
t AS (SELECT a.grid_id, count(*) AS n
      FROM g a JOIN g b ON a.grid_id != b.grid_id
       AND a.gxmax >= b.gxmin AND b.gxmax >= a.gxmin
       AND a.gymax >= b.gymin AND b.gymax >= a.gymin
       AND NOT (a.gxmax > b.gxmin AND b.gxmax > a.gxmin
                AND a.gymax > b.gymin AND b.gymax > a.gymin)
      GROUP BY a.grid_id)
SELECT g.grid_id, CAST(coalesce(t.n, 0) AS BIGINT) AS n_touching,
       coalesce(t.n, 0) > 0 AS any_touches
FROM g LEFT JOIN t ON g.grid_id = t.grid_id
"""

ORACLES["grid_gen"] = """
SELECT gid AS grid_id, gid % 36 AS gx, gid // 36 AS gy,
       -180.0 + (gid % 36) * 10.0 AS gxmin,
       least(-180.0 + (gid % 36 + 1) * 10.0, 180.0) AS gxmax,
       -60.0 + (gid // 36) * 10.0 AS gymin,
       least(-60.0 + (gid // 36 + 1) * 10.0, 60.0) AS gymax,
       (-180.0 + (gid % 36) * 10.0
        + least(-180.0 + (gid % 36 + 1) * 10.0, 180.0)) / 2.0 AS g_cx,
       (-60.0 + (gid // 36) * 10.0
        + least(-60.0 + (gid // 36 + 1) * 10.0, 60.0)) / 2.0 AS g_cy
FROM (SELECT unnest(generate_series(0, 431)) AS gid)
"""

def _hex_oracle(xmin: float, xmax: float, ymin: float, ymax: float,
                size: float) -> str:
    """DuckDB twin of vector.create_hex_grid_bbox (identical literals)."""
    import math as _math

    s = float(size)
    sq3 = _math.sqrt(3.0)
    w, vstep = sq3 * s, 1.5 * s
    n_r = max(0, int(_math.floor((ymax - ymin) / vstep)) + 1)
    n_q = max(0, int(_math.floor((xmax - xmin) / w)) + 1)
    offs = [(0.0, s), (-sq3 / 2 * s, s / 2), (-sq3 / 2 * s, -s / 2),
            (0.0, -s), (sq3 / 2 * s, -s / 2), (sq3 / 2 * s, s / 2)]
    # bbox origin folded into the vertex literals (see
    # vector.create_hex_grid_bbox — keeps both engines' fp op order
    # identical)
    off_list = ", ".join(f"[{xmin + ox!r}, {ymin + oy!r}]"
                         for ox, oy in offs)
    def D(x: float) -> str:
        # bare numeric literals are DECIMAL in DuckDB (exact decimal
        # arithmetic!) — every constant must be a DOUBLE to match Spark
        return f"CAST({x!r} AS DOUBLE)"

    off_list = ", ".join(f"[{D(xmin + ox)}, {D(ymin + oy)}]"
                         for ox, oy in offs)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n_r * n_q - 1})) AS id),
g AS (SELECT id % {n_q} AS q, id // {n_q} AS r FROM ids),
c AS (SELECT q, r,
             {D(xmin)} + {D(w)} * (q + (r % 2) * CAST(0.5 AS DOUBLE)) AS cx,
             {D(ymin)} + {D(vstep)} * r AS cy
      FROM g),
f AS (SELECT *, CAST(r * {n_q} + q AS BIGINT) AS hex_id
      FROM c WHERE cx < {D(xmax)} AND cy < {D(ymax)}),
v AS (SELECT *, unnest(generate_series(1, 6)) AS v_idx FROM f)
SELECT hex_id, q, r, cx, cy, CAST(v_idx AS BIGINT) AS v_idx,
       list_extract([{off_list}], v_idx)[1]
         + {D(w)} * (q + (r % 2) * CAST(0.5 AS DOUBLE)) AS vx,
       list_extract([{off_list}], v_idx)[2] + {D(vstep)} * r AS vy
FROM v
"""


ORACLES["hex_grid"] = _hex_oracle(0.0, 10.0, 40.0, 48.0, 0.8)

from .geo.transverse_mercator import utm_forward_sql as _utm  # noqa: E402

_UTM_E, _UTM_N = _utm("qlon", "qlat", 32)

ORACLES["reproj_utm"] = f"""
{_PREFIX}
SELECT qid, {_UTM_E} AS utm_x,
       {_UTM_N} + CASE WHEN qlat < 0 THEN 10000000.0 ELSE 0.0 END AS utm_y
FROM qpts
"""

from .geo.transverse_mercator import (epsg_tm_params as _tmp,  # noqa: E402
                                      tm_forward_sql as _tmf)

_BNG_E, _BNG_N = _tmf("qlon", "qlat", _tmp(27700))

ORACLES["reproj_epsg"] = f"""
{_PREFIX},
rq AS (SELECT qid,
              CAST(-12.0 AS DOUBLE) + ((qlon + 180.0) % 20.0) AS qlon,
              CAST(40.0 AS DOUBLE) + ((qlat + 60.0) % 15.0) AS qlat
       FROM qpts)
SELECT qid, {_BNG_E} AS x_proj, {_BNG_N} AS y_proj
FROM rq
"""

from .geo.conic import (EPSG_CONIC as _CONIC,  # noqa: E402
                        conic_forward_sql as _conic_f)


def _conic_oracle(epsg: int, lon0: float, lon_span: float,
                  lat0: float, lat_span: float) -> str:
    """reproj oracle: the exact-fmod window remap + the same generated
    conic SQL the Spark query evaluates (shared expression text =>
    bit-identical doubles)."""
    ex, ny = _conic_f("qlon", "qlat", _CONIC[epsg])
    return f"""
{_PREFIX},
rq AS (SELECT qid,
              CAST({lon0} AS DOUBLE) + ((qlon + 180.0) % {lon_span}) AS qlon,
              CAST({lat0} AS DOUBLE) + ((qlat + 60.0) % {lat_span}) AS qlat
       FROM qpts)
SELECT qid, {ex} AS x_proj, {ny} AS y_proj
FROM rq
"""


ORACLES["reproj_lcc"] = _conic_oracle(2154, -9.0, 24.0, 40.5, 11.0)
ORACLES["reproj_albers"] = _conic_oracle(5070, -126.0, 60.0, 23.0, 29.0)
ORACLES["reproj_laea"] = _conic_oracle(3035, -25.0, 70.0, 32.0, 38.0)

from .operators.vector import wgs84_pixel_area_exact_sql as _px_area  # noqa: E402

ORACLES["pixel_area_wgs84"] = f"""
{_PREFIX}
SELECT qid, qlat, {_px_area("qlat", 0.001)} AS px_area_m2
FROM qpts
"""

ORACLES["caption_replace"] = f"""
{_PREFIX}
SELECT image_id, replace(caption, 'megacity', 'dense city') AS caption2
FROM img
"""

ORACLES["rank_layer"] = f"""
{_PREFIX}
SELECT image_id, h,
       row_number() OVER (ORDER BY h DESC, id) AS fid
FROM img
"""

ORACLES["merge_layers"] = f"""
{_PREFIX}
SELECT zone_id, zname, zxmin, CAST(NULL AS DOUBLE) AS zymax
FROM zones WHERE zone_id < 13
UNION ALL
SELECT zone_id, zname, CAST(NULL AS DOUBLE) AS zxmin, zymax
FROM zones WHERE zone_id >= 13
"""

_PXSRC = synth.pixel_value_sql("id", "sx", "sy", "fmt")

ORACLES["mosaic_window"] = f"""
{_PREFIX},
gx AS (SELECT unnest(generate_series(0, 59)) AS px),
gy AS (SELECT unnest(generate_series(0, 59)) AS py),
grid AS (SELECT px, py, 10.0 + (px + 0.5) * 0.001 AS cx,
                45.0 + (py + 0.5) * 0.001 AS cy
         FROM gx, gy),
j AS (SELECT g.px, g.py, i.id, i.fmt,
             least(CAST(floor((g.cx - i.xmin) / 0.001) AS BIGINT),
                   i.w - 1) AS sx,
             least(CAST(floor((i.ymax - g.cy) / 0.001) AS BIGINT),
                   i.h - 1) AS sy
      FROM grid g JOIN imgf i
        ON i.id % 5 = 0
       AND g.cx >= i.xmin AND g.cx < i.xmax
       AND g.cy > i.ymin AND g.cy <= i.ymax),
v AS (SELECT px, py, id, {_PXSRC} AS v FROM j)
SELECT px, py, count(*) AS n_imgs,
       max({{'id': id, 'v': v}}).v AS v_last,
       min(v) AS v_min, max(v) AS v_max,
       max({{'v': v, 'id': id}}).id AS idx_max
FROM v GROUP BY px, py
"""

ORACLES["mosaic_thresh"] = f"""
{_PREFIX},
gx AS (SELECT unnest(generate_series(0, 59)) AS px),
gy AS (SELECT unnest(generate_series(0, 59)) AS py),
grid AS (SELECT px, py, 10.0 + (px + 0.5) * 0.001 AS cx,
                45.0 + (py + 0.5) * 0.001 AS cy
         FROM gx, gy),
j AS (SELECT g.px, g.py, i.id, i.fmt,
             least(CAST(floor((g.cx - i.xmin) / 0.001) AS BIGINT),
                   i.w - 1) AS sx,
             least(CAST(floor((i.ymax - g.cy) / 0.001) AS BIGINT),
                   i.h - 1) AS sy
      FROM grid g JOIN imgf i
        ON i.id % 5 = 0
       AND g.cx >= i.xmin AND g.cx < i.xmax
       AND g.cy > i.ymin AND g.cy <= i.ymax),
v AS (SELECT px, py, id, {_PXSRC} AS v FROM j
      WHERE {_PXSRC} > 200 AND {_PXSRC} < 900)
SELECT px, py, count(*) AS n_imgs,
       max({{'id': id, 'v': v}}).v AS v_last,
       min(v) AS v_min, max(v) AS v_max
FROM v GROUP BY px, py
"""

ORACLES["pixel_trend"] = f"""
{_PREFIX},
gx AS (SELECT unnest(generate_series(0, 59)) AS px),
gy AS (SELECT unnest(generate_series(0, 59)) AS py),
grid AS (SELECT px, py, 10.0 + (px + 0.5) * 0.001 AS cx,
                45.0 + (py + 0.5) * 0.001 AS cy
         FROM gx, gy),
j AS (SELECT g.px, g.py, i.id, i.fmt,
             least(CAST(floor((g.cx - i.xmin) / 0.001) AS BIGINT),
                   i.w - 1) AS sx,
             least(CAST(floor((i.ymax - g.cy) / 0.001) AS BIGINT),
                   i.h - 1) AS sy
      FROM grid g JOIN imgf i
        ON i.id % 5 = 0
       AND g.cx >= i.xmin AND g.cx < i.xmax
       AND g.cy > i.ymin AND g.cy <= i.ymax),
v AS (SELECT px, py, id, {_PXSRC} AS v FROM j),
s AS (SELECT px, py, count(*) AS n,
             CAST(sum(id) AS BIGINT) AS st,
             CAST(sum(id * id) AS BIGINT) AS stt,
             CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(id * v) AS BIGINT) AS stv
      FROM v GROUP BY px, py),
f AS (SELECT px, py, n,
             CAST(n * stv - st * sv AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE) AS slope,
             st, sv
      FROM s WHERE n >= 2)
SELECT px, py, n AS n_imgs, slope,
       (CAST(sv AS DOUBLE) - slope * CAST(st AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept
FROM f
"""

ORACLES["rasterize_zones"] = f"""
{_PREFIX},
grid AS (
  SELECT px, py, -180.0 + (px + 0.5) * 5.0 AS cx,
         -60.0 + (py + 0.5) * 5.0 AS cy
  FROM (SELECT unnest(generate_series(0, 71)) AS px),
       (SELECT unnest(generate_series(0, 23)) AS py))
SELECT g.px, g.py,
       CAST(coalesce(max(z.zone_id), -1) AS BIGINT) AS burn
FROM grid g LEFT JOIN zones z
  ON g.cx >= z.zxmin AND g.cx < z.zxmax
 AND g.cy >= z.zymin AND g.cy < z.zymax
GROUP BY g.px, g.py
"""

# clump_stats / polygonize: connected-component labeling IS SQL-expressible
# with bounded unrolling — pointer-doubling label propagation (min over
# 4-neighbours, then jump lab := lab[lab]) reaches the component minimum
# in far fewer rounds than plain propagation; empirically the synthetic
# band masks converge in 8 rounds (probe in tests/test_segmentation.py),
# and 13 rounds are unrolled for margin (image dims are SF-independent, so
# the diameter never grows with scale factor).  MATERIALIZED hints are
# load-bearing: without them DuckDB inlines each doubly-referenced CTE and
# the plan blows up exponentially in the round count.


def _cc_clumps_cte(mod: int = 19, threshold: int = 700,
                   rounds: int = 13) -> str:
    """CTE chain ending in ``cl``: one row per (image, component).

    ``root`` = minimum flat pixel index of the component (exactly the
    provisional label ``operators.rasterize.label_components`` converges
    to), so the dense relabel ``row_number() OVER (ORDER BY root)``
    reproduces the engine's clump ids bit-for-bit.
    """
    parts = [f"""
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % {mod} = 0),
pxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs),
fg AS MATERIALIZED (SELECT image_id, w, x, y, y * w + x AS pid
       FROM pxy WHERE {_PXV} >= {threshold}),
e0 AS MATERIALIZED (SELECT a.image_id, a.pid AS pa, b.pid AS pb
       FROM fg a JOIN fg b
         ON b.image_id = a.image_id AND b.pid = a.pid + 1
       WHERE a.x + 1 < a.w
       UNION ALL
       SELECT a.image_id, a.pid, b.pid
       FROM fg a JOIN fg b
         ON b.image_id = a.image_id AND b.pid = a.pid + a.w),
e AS MATERIALIZED (SELECT image_id, pa, pb FROM e0
      UNION ALL SELECT image_id, pb, pa FROM e0),
l0 AS (SELECT image_id, pid, pid AS lab FROM fg)"""]
    prev = "l0"
    for k in range(1, rounds + 1):
        parts.append(f""",
m{k} AS MATERIALIZED (SELECT l.image_id, l.pid,
                least(min(l.lab), coalesce(min(nl.lab), min(l.lab))) AS lab
         FROM {prev} l
         LEFT JOIN e ON e.image_id = l.image_id AND e.pa = l.pid
         LEFT JOIN {prev} nl
           ON nl.image_id = l.image_id AND nl.pid = e.pb
         GROUP BY l.image_id, l.pid),
l{k} AS MATERIALIZED (SELECT m.image_id, m.pid, t.lab
         FROM m{k} m JOIN m{k} t
           ON t.image_id = m.image_id AND t.pid = m.lab)""")
        prev = f"l{k}"
    parts.append(f""",
comp AS (SELECT f.image_id, f.x, f.y, l.lab AS root
         FROM fg f JOIN {prev} l
           ON l.image_id = f.image_id AND l.pid = f.pid),
cl AS (SELECT image_id, root, count(*) AS n_pix,
              CAST(min(x) AS BIGINT) AS bxmin,
              CAST(max(x) + 1 AS BIGINT) AS bxmax,
              CAST(min(y) AS BIGINT) AS bymin,
              CAST(max(y) + 1 AS BIGINT) AS bymax
       FROM comp GROUP BY image_id, root)""")
    return "".join(parts)


def _cc_segments_cte(mod: int = 19, quant: int = 128,
                     rounds: int = 13, px_sql: str | None = None) -> str:
    """Segmentation-lattice components: equal ``value // quant`` regions
    (every pixel labeled, adjacent regions differ — the clump-image
    shape rastergis consumes; engine twin ``rastergis._label_regions``).

    Cost shape: pixel-level doubling over ~700k pixels needs ~30 s; this
    decomposes each row into maximal equal-value RUNS (gaps-and-islands)
    and pointer-doubles over the ~18x smaller run graph, then unnests
    runs back to pixels once at the end.  ``root`` = min flat pixel
    index of the component (every run id is its own min pid, and the
    component min over run ids equals the min over pixels), identical
    to the engine's convergence point.  Ends with ``comp``/``cl``
    matching ``_cc_clumps_cte`` plus ``runs``/``rlab`` for the
    run-level adjacency of ``_SEG_ADJ``.

    ``px_sql`` overrides the whole pixel-class scan: a SELECT yielding
    (image_id, w, x, y, q) — e.g. the k-means class assignment of the
    shepherd-segmentation oracle.  The caller must have defined any
    CTEs it references; the default scan (xs/pxy over the ``mod``
    image subset, q = value // quant) is skipped.
    """
    if px_sql is None:
        px_sql = f"""
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % {mod} = 0),
pxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs),
px AS (SELECT image_id, w, x, y, ({_PXV}) // {quant} AS q FROM pxy)"""
    else:
        px_sql = f"""
px AS ({px_sql})"""
    parts = [f"""{px_sql},
runs AS MATERIALIZED (
  SELECT image_id, w, y, q,
         CAST(min(x) AS BIGINT) AS x0, CAST(max(x) AS BIGINT) AS x1,
         count(*) AS len, CAST(y AS BIGINT) * w + min(x) AS rid
  FROM (SELECT *, x - row_number() OVER (PARTITION BY image_id, y, q
                                         ORDER BY x) AS grp
        FROM px)
  GROUP BY image_id, w, y, q, grp),
e0 AS MATERIALIZED (SELECT a.image_id, a.rid AS pa, b.rid AS pb
       FROM runs a JOIN runs b
         ON b.image_id = a.image_id AND b.y = a.y + 1 AND b.q = a.q
        AND b.x0 <= a.x1 AND b.x1 >= a.x0),
e AS MATERIALIZED (SELECT image_id, pa, pb FROM e0
      UNION ALL SELECT image_id, pb, pa FROM e0),
l0 AS (SELECT image_id, rid AS pid, rid AS lab FROM runs)"""]
    prev = "l0"
    for k in range(1, rounds + 1):
        parts.append(f""",
m{k} AS MATERIALIZED (SELECT l.image_id, l.pid,
                least(min(l.lab), coalesce(min(nl.lab), min(l.lab))) AS lab
         FROM {prev} l
         LEFT JOIN e ON e.image_id = l.image_id AND e.pa = l.pid
         LEFT JOIN {prev} nl
           ON nl.image_id = l.image_id AND nl.pid = e.pb
         GROUP BY l.image_id, l.pid),
l{k} AS MATERIALIZED (SELECT m.image_id, m.pid, t.lab
         FROM m{k} m JOIN m{k} t
           ON t.image_id = m.image_id AND t.pid = m.lab)""")
        prev = f"l{k}"
    parts.append(f""",
rlab AS (SELECT image_id, pid AS rid, lab AS root FROM {prev}),
comp AS (SELECT r.image_id, unnest(generate_series(r.x0, r.x1)) AS x,
                r.y, s.root
         FROM runs r JOIN rlab s
           ON s.image_id = r.image_id AND s.rid = r.rid),
cl AS (SELECT r.image_id, s.root, CAST(sum(r.len) AS BIGINT) AS n_pix,
              CAST(min(r.q) AS BIGINT) AS cls,
              CAST(min(r.x0) AS BIGINT) AS bxmin,
              CAST(max(r.x1) + 1 AS BIGINT) AS bxmax,
              CAST(min(r.y) AS BIGINT) AS bymin,
              CAST(max(r.y) + 1 AS BIGINT) AS bymax
       FROM runs r JOIN rlab s
         ON s.image_id = r.image_id AND s.rid = r.rid
       GROUP BY r.image_id, s.root)""")
    return "".join(parts)


# component adjacency in dense-id space over the RUN graph (segment
# CTEs only): horizontal = abutting runs in a row (maximality makes
# them different components), vertical = overlapping runs in
# consecutive rows with different roots.  Needs runs/rlab/rl.
_SEG_ADJ = """
radj AS (SELECT a.image_id, la.root AS ra, lb.root AS rb
         FROM runs a
         JOIN runs b ON b.image_id = a.image_id AND b.y = a.y
                    AND b.x0 = a.x1 + 1
         JOIN rlab la ON la.image_id = a.image_id AND la.rid = a.rid
         JOIN rlab lb ON lb.image_id = b.image_id AND lb.rid = b.rid
         WHERE la.root <> lb.root
         UNION ALL
         SELECT a.image_id, la.root, lb.root
         FROM runs a
         JOIN runs b ON b.image_id = a.image_id AND b.y = a.y + 1
                    AND b.x0 <= a.x1 AND b.x1 >= a.x0
         JOIN rlab la ON la.image_id = a.image_id AND la.rid = a.rid
         JOIN rlab lb ON lb.image_id = b.image_id AND lb.rid = b.rid
         WHERE la.root <> lb.root),
adj AS (SELECT DISTINCT image_id, ra, rb FROM
          (SELECT image_id, ra, rb FROM radj
           UNION ALL SELECT image_id, rb AS ra, ra AS rb FROM radj)),
adjc AS (SELECT a.image_id, la.cid AS ca, lb.cid AS cb
         FROM adj a
         JOIN rl la ON la.image_id = a.image_id AND la.root = a.ra
         JOIN rl lb ON lb.image_id = a.image_id AND lb.root = a.rb)"""


ORACLES["polygonize"] = f"""
{_PREFIX},
{_cc_clumps_cte()}
SELECT image_id,
       CAST(row_number() OVER (PARTITION BY image_id ORDER BY root)
            AS BIGINT) AS clump_id,
       CAST(n_pix AS BIGINT) AS n_pix, bxmin, bxmax, bymin, bymax
FROM cl
"""

ORACLES["clump_stats"] = f"""
{_PREFIX},
{_cc_clumps_cte()}
SELECT image_id, count(*) AS n_clumps,
       CAST(max(n_pix) AS BIGINT) AS max_clump,
       CAST(sum(n_pix) AS BIGINT) AS n_fg
FROM cl GROUP BY image_id
"""

# RAT enrichment oracles (rastergis find_neighbours / populate_rat_with_
# mode / populate_rat_with_percentiles / collapse_rat).  All share the
# pointer-doubling component CTE; ``rl`` is the dense relabel (clump_id =
# row_number over ascending root, identical to the engine's labeling).
_RL = """
rl AS (SELECT image_id, root,
              CAST(row_number() OVER (PARTITION BY image_id ORDER BY root)
                   AS BIGINT) AS cid
       FROM cl)"""

_RAT_VALS = f"""
vals AS (SELECT c.image_id, rl.cid,
                {synth.pixel_value_sql('i.id', 'c.x', 'c.y', 'i.fmt')} AS v
         FROM comp c
         JOIN img i ON i.image_id = c.image_id
         JOIN rl ON rl.image_id = c.image_id AND rl.root = c.root)"""

def _kmeans_ctes(mod: int = 19, iters: int = 6) -> str:
    """Unrolled deterministic integer 1-D k-means (k = 4) over the
    per-image value histogram — the KMeans stage of shepherdseg
    (engine twin ``operators.segmentation.kmeans_values``).

    Init: centres evenly over [vmin, vmax] (``vmin + (range*(2j+1))//8``).
    Assign: argmin |v - c_j|, ties to the smallest j (the CASE ladder's
    <= comparisons).  Update: ``sum(v*n) // sum(n)`` per class; empty
    classes keep their centre (coalesce).  All-integer ops, bit-equal
    across engines.  Ends with ``kc`` (image_id, k0..k3) and ``khist``.
    """
    argmin = ("CASE WHEN abs(v - c.k0) <= abs(v - c.k1)"
              " AND abs(v - c.k0) <= abs(v - c.k2)"
              " AND abs(v - c.k0) <= abs(v - c.k3) THEN 0"
              " WHEN abs(v - c.k1) <= abs(v - c.k2)"
              " AND abs(v - c.k1) <= abs(v - c.k3) THEN 1"
              " WHEN abs(v - c.k2) <= abs(v - c.k3) THEN 2 ELSE 3 END")
    parts = [f"""
kxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % {mod} = 0),
kpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM kxs),
khist AS MATERIALIZED (SELECT image_id, {_PXV} AS v, count(*) AS n
        FROM kpxy GROUP BY image_id, v),
kext AS (SELECT image_id, min(v) AS vmin, max(v) AS vmax
         FROM khist GROUP BY image_id),
kc0 AS (SELECT image_id,
               vmin + ((vmax - vmin) * 1) // 8 AS k0,
               vmin + ((vmax - vmin) * 3) // 8 AS k1,
               vmin + ((vmax - vmin) * 5) // 8 AS k2,
               vmin + ((vmax - vmin) * 7) // 8 AS k3
        FROM kext)"""]
    for r in range(1, iters + 1):
        parts.append(f""",
ka{r} AS (SELECT h.image_id, h.v, h.n, {argmin} AS cls
         FROM khist h JOIN kc{r - 1} c ON c.image_id = h.image_id),
kc{r} AS MATERIALIZED (SELECT a.image_id,
               coalesce(CAST(sum(CASE WHEN cls = 0 THEN v * n END)
                             // sum(CASE WHEN cls = 0 THEN n END)
                        AS BIGINT), max(c.k0)) AS k0,
               coalesce(CAST(sum(CASE WHEN cls = 1 THEN v * n END)
                             // sum(CASE WHEN cls = 1 THEN n END)
                        AS BIGINT), max(c.k1)) AS k1,
               coalesce(CAST(sum(CASE WHEN cls = 2 THEN v * n END)
                             // sum(CASE WHEN cls = 2 THEN n END)
                        AS BIGINT), max(c.k2)) AS k2,
               coalesce(CAST(sum(CASE WHEN cls = 3 THEN v * n END)
                             // sum(CASE WHEN cls = 3 THEN n END)
                        AS BIGINT), max(c.k3)) AS k3
         FROM ka{r} a JOIN kc{r - 1} c ON c.image_id = a.image_id
         GROUP BY a.image_id)""")
    parts.append(f""",
kc AS MATERIALIZED (SELECT * FROM kc{iters})""")
    return "".join(parts)


# final-centre argmin assignment (khist/kpxy row with alias c = kc)
_KM_ARGMIN = ("CASE WHEN abs({v} - c.k0) <= abs({v} - c.k1)"
              " AND abs({v} - c.k0) <= abs({v} - c.k2)"
              " AND abs({v} - c.k0) <= abs({v} - c.k3) THEN 0"
              " WHEN abs({v} - c.k1) <= abs({v} - c.k2)"
              " AND abs({v} - c.k1) <= abs({v} - c.k3) THEN 1"
              " WHEN abs({v} - c.k2) <= abs({v} - c.k3) THEN 2 ELSE 3 END")

ORACLES["kmeans_centres"] = f"""
{_PREFIX},
{_kmeans_ctes()},
kcls AS (SELECT h.image_id, h.n, {_KM_ARGMIN.format(v='h.v')} AS cls
         FROM khist h JOIN kc c ON c.image_id = h.image_id),
kcnt AS (SELECT image_id, cls, CAST(sum(n) AS BIGINT) AS n_pix
         FROM kcls GROUP BY image_id, cls),
kcent AS (SELECT image_id, unnest([0, 1, 2, 3]) AS cls,
                 unnest([k0, k1, k2, k3]) AS centre
          FROM kc)
SELECT e.image_id, CAST(e.cls AS BIGINT) AS cls,
       CAST(e.centre AS BIGINT) AS centre,
       CAST(coalesce(n.n_pix, 0) AS BIGINT) AS n_pix
FROM kcent e LEFT JOIN kcnt n
  ON n.image_id = e.image_id AND n.cls = e.cls
"""

_SHEP_PX = ("SELECT p.image_id, p.w, p.x, p.y, "
            + _KM_ARGMIN.format(v=f"({synth.pixel_value_sql('p.id', 'p.x', 'p.y', 'p.fmt')})")
            + " AS q FROM kpxy p JOIN kc c ON c.image_id = p.image_id")

ORACLES["shepherd_seg"] = f"""
{_PREFIX},
{_kmeans_ctes()},
{_cc_segments_cte(px_sql=_SHEP_PX)},
{_RL}
SELECT rl.image_id, rl.cid AS seg_id, cl.cls,
       CAST(cl.n_pix AS BIGINT) AS n_pix
FROM rl JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root
"""


_UNION_PX = f"""SELECT image_id, w, x, y,
       ((({_PXV}) // 128) * 16)
       + (((({_PXV}) * 7 + 3) % {synth.pmax_sql('fmt')}) // 256) AS q
FROM (SELECT image_id, id, w, h, fmt, x,
             unnest(generate_series(0, h - 1)) AS y
      FROM (SELECT image_id, id, w, h, fmt,
                   unnest(generate_series(0, w - 1)) AS x
            FROM img WHERE id % 19 = 0))"""

ORACLES["union_clumps"] = f"""
{_PREFIX},
{_cc_segments_cte(px_sql=_UNION_PX)},
{_RL}
SELECT rl.image_id, rl.cid AS clump_id, CAST(cl.n_pix AS BIGINT) AS n_pix,
       CAST(cl.cls // 16 AS BIGINT) AS val_a,
       CAST(cl.cls % 16 AS BIGINT) AS val_b
FROM rl JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root
"""

ORACLES["rat_neighbours"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_SEG_ADJ},
agg AS (SELECT image_id, ca, count(*) AS n_neigh,
               min(cb) AS mn, max(cb) AS mx
        FROM adjc GROUP BY image_id, ca)
SELECT rl.image_id, rl.cid AS clump_id,
       CAST(coalesce(agg.n_neigh, 0) AS BIGINT) AS n_neigh,
       CAST(coalesce(agg.mn, 0) AS BIGINT) AS min_neigh,
       CAST(coalesce(agg.mx, 0) AS BIGINT) AS max_neigh
FROM rl LEFT JOIN agg
  ON agg.image_id = rl.image_id AND agg.ca = rl.cid
"""

ORACLES["clump_locations"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
gsum AS (SELECT r.image_id, s.root,
                CAST(sum((r.x0 + r.x1) * r.len) // 2 AS BIGINT) AS sx,
                CAST(sum(r.y * r.len) AS BIGINT) AS sy
         FROM runs r JOIN rlab s
           ON s.image_id = r.image_id AND s.rid = r.rid
         GROUP BY r.image_id, s.root)
SELECT rl.image_id, rl.cid AS clump_id, CAST(cl.n_pix AS BIGINT) AS n_pix,
       i.lon + (CAST(g.sx AS DOUBLE) / CAST(cl.n_pix AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) * {_RD} AS mean_e,
       i.lat - (CAST(g.sy AS DOUBLE) / CAST(cl.n_pix AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) * {_RD} AS mean_n,
       i.lon + CAST(cl.bxmin AS DOUBLE) * {_RD} AS min_e,
       i.lon + CAST(cl.bxmax AS DOUBLE) * {_RD} AS max_e,
       i.lat - CAST(cl.bymax AS DOUBLE) * {_RD} AS min_n,
       i.lat - CAST(cl.bymin AS DOUBLE) * {_RD} AS max_n
FROM rl
JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root
JOIN gsum g ON g.image_id = rl.image_id AND g.root = rl.root
JOIN img i ON i.image_id = rl.image_id
"""

ORACLES["clump_borders"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
bp0 AS (SELECT a.image_id, la.root AS ra, lb.root AS rb,
               CAST(1 AS BIGINT) AS cnt
        FROM runs a
        JOIN runs b ON b.image_id = a.image_id AND b.y = a.y
                   AND b.x0 = a.x1 + 1
        JOIN rlab la ON la.image_id = a.image_id AND la.rid = a.rid
        JOIN rlab lb ON lb.image_id = b.image_id AND lb.rid = b.rid
        WHERE la.root <> lb.root
        UNION ALL
        SELECT a.image_id, la.root, lb.root,
               least(a.x1, b.x1) - greatest(a.x0, b.x0) + 1
        FROM runs a
        JOIN runs b ON b.image_id = a.image_id AND b.y = a.y + 1
                   AND b.x0 <= a.x1 AND b.x1 >= a.x0
        JOIN rlab la ON la.image_id = a.image_id AND la.rid = a.rid
        JOIN rlab lb ON lb.image_id = b.image_id AND lb.rid = b.rid
        WHERE la.root <> lb.root),
bp AS (SELECT image_id, ra, rb, cnt FROM bp0
       UNION ALL SELECT image_id, rb, ra, cnt FROM bp0),
cb AS (SELECT b.image_id, b.ra AS root,
              CAST(sum(b.cnt) AS BIGINT) AS blen,
              CAST(sum(CASE WHEN cn.cls = 0 THEN b.cnt
                            ELSE 0 END) AS BIGINT) AS bcls
       FROM bp b JOIN cl cn
         ON cn.image_id = b.image_id AND cn.root = b.rb
       GROUP BY b.image_id, b.ra)
SELECT rl.image_id, rl.cid AS clump_id, CAST(cl.n_pix AS BIGINT) AS n_pix,
       CAST(coalesce(cb.blen, 0) AS BIGINT) AS border_len,
       CAST(coalesce(cb.bcls, 0) AS BIGINT) AS border_cls0,
       CASE WHEN coalesce(cb.blen, 0) > 0
            THEN CAST(cb.bcls AS DOUBLE) / CAST(cb.blen AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS rel_border
FROM rl
JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root
LEFT JOIN cb ON cb.image_id = rl.image_id AND cb.root = rl.root
"""

ORACLES["seg_mean"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_RAT_VALS}
SELECT image_id, cid AS clump_id,
       CAST(count(*) AS BIGINT) AS n_pix,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_val
FROM vals GROUP BY image_id, cid
"""

ORACLES["rat_mode"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_RAT_VALS},
cnt AS (SELECT image_id, cid, v, count(*) AS n
        FROM vals GROUP BY image_id, cid, v),
rk AS (SELECT image_id, cid, v,
              row_number() OVER (PARTITION BY image_id, cid
                                 ORDER BY n DESC, v ASC) AS r
       FROM cnt)
SELECT image_id, cid AS clump_id, CAST(v AS BIGINT) AS mode_val
FROM rk WHERE r = 1
"""

ORACLES["rat_percentiles"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_RAT_VALS},
o AS (SELECT image_id, cid, v,
             row_number() OVER (PARTITION BY image_id, cid
                                ORDER BY v) AS rk,
             count(*) OVER (PARTITION BY image_id, cid) AS n
      FROM vals)
SELECT image_id, cid AS clump_id,
       CAST(max(CASE WHEN rk = (n * 25 + 99) // 100 THEN v END)
            AS BIGINT) AS p25,
       CAST(max(CASE WHEN rk = (n * 50 + 99) // 100 THEN v END)
            AS BIGINT) AS p50,
       CAST(max(CASE WHEN rk = (n * 75 + 99) // 100 THEN v END)
            AS BIGINT) AS p75
FROM o GROUP BY image_id, cid
"""

ORACLES["clump_merge"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_SEG_ADJ},
msz AS (SELECT rl.image_id, rl.cid, cl.n_pix
        FROM rl JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root),
mtgt AS (SELECT c.image_id, c.ca, c.cb,
                row_number() OVER (PARTITION BY c.image_id, c.ca
                                   ORDER BY sb.n_pix DESC, c.cb ASC) AS r
         FROM adjc c
         JOIN msz sb ON sb.image_id = c.image_id AND sb.cid = c.cb)
SELECT s.image_id, s.cid AS clump_id, CAST(s.n_pix AS BIGINT) AS n_pix,
       CAST(CASE WHEN s.n_pix < 8 AND t.cb IS NOT NULL THEN t.cb
                 ELSE s.cid END AS BIGINT) AS new_label
FROM msz s LEFT JOIN mtgt t
  ON t.image_id = s.image_id AND t.ca = s.cid AND t.r = 1
"""

ORACLES["clump_eliminate"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_SEG_ADJ},
msz AS MATERIALIZED (SELECT rl.image_id, rl.cid, cl.n_pix
        FROM rl JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root),
ol0 AS MATERIALIZED (SELECT image_id, cid AS seg, cid AS cur FROM rl),
sz1 AS (SELECT o.image_id, o.cur AS lab, CAST(sum(m.n_pix) AS BIGINT) AS s
         FROM ol0 o
         JOIN msz m ON m.image_id = o.image_id AND m.cid = o.seg
         GROUP BY o.image_id, o.cur),
ad1 AS (SELECT DISTINCT o1.image_id, o1.cur AS ca, o2.cur AS cb
         FROM adjc j
         JOIN ol0 o1 ON o1.image_id = j.image_id AND o1.seg = j.ca
         JOIN ol0 o2 ON o2.image_id = j.image_id AND o2.seg = j.cb
         WHERE o1.cur <> o2.cur),
mg1 AS (SELECT image_id, ca, cb FROM (
           SELECT a.image_id, a.ca, a.cb,
                  row_number() OVER (PARTITION BY a.image_id, a.ca
                                     ORDER BY sb.s DESC, a.cb ASC) AS rn
           FROM ad1 a
           JOIN sz1 sa ON sa.image_id = a.image_id AND sa.lab = a.ca
           JOIN sz1 sb ON sb.image_id = a.image_id AND sb.lab = a.cb
           WHERE sa.s < 200 AND (sb.s > sa.s OR (sb.s = sa.s AND a.cb < a.ca)))
          WHERE rn = 1),
ol1 AS MATERIALIZED (SELECT o.image_id, o.seg, coalesce(g.cb, o.cur) AS cur
         FROM ol0 o LEFT JOIN mg1 g
           ON g.image_id = o.image_id AND g.ca = o.cur),
sz2 AS (SELECT o.image_id, o.cur AS lab, CAST(sum(m.n_pix) AS BIGINT) AS s
         FROM ol1 o
         JOIN msz m ON m.image_id = o.image_id AND m.cid = o.seg
         GROUP BY o.image_id, o.cur),
ad2 AS (SELECT DISTINCT o1.image_id, o1.cur AS ca, o2.cur AS cb
         FROM adjc j
         JOIN ol1 o1 ON o1.image_id = j.image_id AND o1.seg = j.ca
         JOIN ol1 o2 ON o2.image_id = j.image_id AND o2.seg = j.cb
         WHERE o1.cur <> o2.cur),
mg2 AS (SELECT image_id, ca, cb FROM (
           SELECT a.image_id, a.ca, a.cb,
                  row_number() OVER (PARTITION BY a.image_id, a.ca
                                     ORDER BY sb.s DESC, a.cb ASC) AS rn
           FROM ad2 a
           JOIN sz2 sa ON sa.image_id = a.image_id AND sa.lab = a.ca
           JOIN sz2 sb ON sb.image_id = a.image_id AND sb.lab = a.cb
           WHERE sa.s < 200 AND (sb.s > sa.s OR (sb.s = sa.s AND a.cb < a.ca)))
          WHERE rn = 1),
ol2 AS MATERIALIZED (SELECT o.image_id, o.seg, coalesce(g.cb, o.cur) AS cur
         FROM ol1 o LEFT JOIN mg2 g
           ON g.image_id = o.image_id AND g.ca = o.cur),
sz3 AS (SELECT o.image_id, o.cur AS lab, CAST(sum(m.n_pix) AS BIGINT) AS s
         FROM ol2 o
         JOIN msz m ON m.image_id = o.image_id AND m.cid = o.seg
         GROUP BY o.image_id, o.cur),
ad3 AS (SELECT DISTINCT o1.image_id, o1.cur AS ca, o2.cur AS cb
         FROM adjc j
         JOIN ol2 o1 ON o1.image_id = j.image_id AND o1.seg = j.ca
         JOIN ol2 o2 ON o2.image_id = j.image_id AND o2.seg = j.cb
         WHERE o1.cur <> o2.cur),
mg3 AS (SELECT image_id, ca, cb FROM (
           SELECT a.image_id, a.ca, a.cb,
                  row_number() OVER (PARTITION BY a.image_id, a.ca
                                     ORDER BY sb.s DESC, a.cb ASC) AS rn
           FROM ad3 a
           JOIN sz3 sa ON sa.image_id = a.image_id AND sa.lab = a.ca
           JOIN sz3 sb ON sb.image_id = a.image_id AND sb.lab = a.cb
           WHERE sa.s < 200 AND (sb.s > sa.s OR (sb.s = sa.s AND a.cb < a.ca)))
          WHERE rn = 1),
ol3 AS MATERIALIZED (SELECT o.image_id, o.seg, coalesce(g.cb, o.cur) AS cur
         FROM ol2 o LEFT JOIN mg3 g
           ON g.image_id = o.image_id AND g.ca = o.cur),
fsz AS (SELECT o.image_id, o.cur AS lab, CAST(sum(m.n_pix) AS BIGINT) AS s
        FROM ol3 o
        JOIN msz m ON m.image_id = o.image_id AND m.cid = o.seg
        GROUP BY o.image_id, o.cur)
SELECT o.image_id, o.seg AS seg_id, CAST(m.n_pix AS BIGINT) AS n_pix,
       CAST(o.cur AS BIGINT) AS new_label, f.s AS new_size
FROM ol3 o
JOIN msz m ON m.image_id = o.image_id AND m.cid = o.seg
JOIN fsz f ON f.image_id = o.image_id AND f.lab = o.cur
"""

ORACLES["rat_collapse"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL}
SELECT image_id, cid AS clump_id,
       CAST(row_number() OVER (PARTITION BY image_id ORDER BY cid)
            AS BIGINT) AS new_id
FROM (SELECT rl.image_id, rl.cid
      FROM rl JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root
      WHERE cl.n_pix >= 8) t
"""

_STRETCH_HIST = f"""
sxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 13 = 0),
spxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM sxs),
shist AS MATERIALIZED (SELECT image_id, {{pxv}} AS v, count(*) AS cnt
         FROM spxy GROUP BY image_id, v)""".format(pxv="{pxv}")

_STRETCH_TAIL = """
sval AS (SELECT h.image_id, h.cnt, l.lo, l.hi,
                CASE WHEN l.hi > l.lo
                     THEN ((least(greatest(h.v, l.lo), l.hi) - l.lo) * 255)
                          // (l.hi - l.lo)
                     ELSE 0 END AS sv
         FROM shist h JOIN slh l ON l.image_id = h.image_id)
SELECT image_id, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
       CAST(sum(cnt) AS BIGINT) AS n_pix,
       CAST(sum(cnt * sv) AS BIGINT) AS sum_out,
       CAST(min(sv) AS BIGINT) AS min_out,
       CAST(max(sv) AS BIGINT) AS max_out
FROM sval GROUP BY image_id, lo, hi"""

ORACLES["stretch_minmax"] = f"""
{_PREFIX},
{_STRETCH_HIST.format(pxv=_PXV)},
slh AS (SELECT image_id, min(v) AS lo, max(v) AS hi
        FROM shist GROUP BY image_id),
{_STRETCH_TAIL}
"""

ORACLES["stretch_percent"] = f"""
{_PREFIX},
{_STRETCH_HIST.format(pxv=_PXV)},
scum AS (SELECT image_id, v,
                sum(cnt) OVER (PARTITION BY image_id ORDER BY v) AS w0,
                sum(cnt) OVER (PARTITION BY image_id) AS n
         FROM shist),
slh AS (SELECT image_id,
               min(CASE WHEN w0 >= (n * 2 + 99) // 100 THEN v END) AS lo,
               min(CASE WHEN w0 >= (n * 98 + 99) // 100 THEN v END) AS hi
        FROM scum GROUP BY image_id),
{_STRETCH_TAIL}
"""

_OTSU_SCORE = ("((CAST(nn AS DOUBLE) / CAST(w0 AS DOUBLE)) "
               "* CAST(nn AS DOUBLE)) / CAST(w1 AS DOUBLE)")
ORACLES["stretch_power"] = f"""
{_PREFIX},
{_STRETCH_HIST.format(pxv=_PXV)},
sq AS (SELECT image_id, v * v AS v, cnt FROM shist),
slh AS (SELECT image_id, min(v) AS lo, max(v) AS hi
        FROM sq GROUP BY image_id),
sval AS (SELECT h.image_id, h.cnt, l.lo, l.hi,
                CASE WHEN l.hi > l.lo
                     THEN ((least(greatest(h.v, l.lo), l.hi) - l.lo) * 255)
                          // (l.hi - l.lo)
                     ELSE 0 END AS sv
         FROM sq h JOIN slh l ON l.image_id = h.image_id)
SELECT image_id, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
       CAST(sum(cnt) AS BIGINT) AS n_pix,
       CAST(sum(cnt * sv) AS BIGINT) AS sum_out,
       CAST(min(sv) AS BIGINT) AS min_out,
       CAST(max(sv) AS BIGINT) AS max_out
FROM sval GROUP BY image_id, lo, hi
"""

ORACLES["stretch_stddev"] = f"""
{_PREFIX},
{_STRETCH_HIST.format(pxv=_PXV)},
sagg AS (SELECT image_id,
                CAST(sum(v * cnt) AS BIGINT) AS s1,
                CAST(sum(v * v * cnt) AS BIGINT) AS s2,
                CAST(sum(cnt) AS BIGINT) AS n,
                min(v) AS vmin, max(v) AS vmax
         FROM shist GROUP BY image_id),
-- expression tree pinned to the engine kernel (imagemath.
-- stretch_stddev_stats): every op is IEEE-correctly-rounded, so
-- identical trees give identical doubles
smn AS (SELECT image_id, n, vmin, vmax,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
               sqrt(greatest(
                    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)),
                    CAST(0 AS DOUBLE))) AS sd
        FROM sagg),
slh AS (SELECT image_id,
               greatest(mean - sd * CAST(2 AS DOUBLE),
                        CAST(vmin AS DOUBLE)) AS lo,
               least(mean + sd * CAST(2 AS DOUBLE),
                     CAST(vmax AS DOUBLE)) AS hi
        FROM smn),
sval AS (SELECT h.image_id, h.cnt, l.lo, l.hi,
                CASE WHEN l.hi > l.lo
                     THEN CAST(floor(((least(greatest(CAST(h.v AS DOUBLE),
                                                      l.lo), l.hi) - l.lo)
                                      * CAST(255 AS DOUBLE))
                               / (l.hi - l.lo)) AS BIGINT)
                     ELSE 0 END AS sv
         FROM shist h JOIN slh l ON l.image_id = h.image_id)
SELECT image_id, lo, hi,
       CAST(sum(cnt) AS BIGINT) AS n_pix,
       CAST(sum(cnt * sv) AS BIGINT) AS sum_out,
       CAST(min(sv) AS BIGINT) AS min_out,
       CAST(max(sv) AS BIGINT) AS max_out
FROM sval GROUP BY image_id, lo, hi
"""

ORACLES["otsu_threshold"] = f"""
{_PREFIX},
oxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
opxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM oxs),
ohist AS (SELECT image_id, {_PXV} AS v, count(*) AS cnt
          FROM opxy GROUP BY image_id, v),
ocum AS (SELECT image_id, v,
                sum(cnt) OVER (PARTITION BY image_id ORDER BY v) AS w0,
                sum(cnt * v) OVER (PARTITION BY image_id ORDER BY v) AS s0,
                sum(cnt) OVER (PARTITION BY image_id) AS n,
                sum(cnt * v) OVER (PARTITION BY image_id) AS s
         FROM ohist),
ocand AS (SELECT image_id, v AS t,
                 CAST(w0 AS BIGINT) AS w0, CAST(n - w0 AS BIGINT) AS w1,
                 CAST(s0 * (n - w0) - (s - s0) * w0 AS BIGINT) AS nn
          FROM ocum WHERE w0 < n),
osc AS (SELECT image_id, t, w0, w1, {_OTSU_SCORE} AS score,
               row_number() OVER (PARTITION BY image_id
                                  ORDER BY {_OTSU_SCORE} DESC, t ASC) AS r
        FROM ocand)
SELECT image_id, CAST(t AS BIGINT) AS thres,
       w0 AS n_below, w1 AS n_above, score
FROM osc WHERE r = 1
"""

ORACLES["dist_to_vals"] = f"""
{_PREFIX},
dxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 37 = 0),
dpxy AS MATERIALIZED (SELECT *, unnest(generate_series(0, h - 1)) AS y
        FROM dxs),
dtg AS (SELECT image_id, x AS tx, y AS ty FROM dpxy WHERE {_PXV} = 42),
dmin AS (SELECT p.image_id, p.x, p.y,
                min((p.x - t.tx) * (p.x - t.tx)
                    + (p.y - t.ty) * (p.y - t.ty)) AS d2
         FROM dpxy p JOIN dtg t ON t.image_id = p.image_id
         GROUP BY p.image_id, p.x, p.y),
dagg AS (SELECT image_id,
                CAST(sum(CASE WHEN d2 <= 256 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_valid,
                CAST(sum(CASE WHEN d2 <= 256 THEN d2 ELSE 0 END)
                     AS BIGINT) AS sum_d2,
                CAST(coalesce(max(CASE WHEN d2 <= 256 THEN d2 END), 0)
                     AS BIGINT) AS max_d2
         FROM dmin GROUP BY image_id),
dimg AS (SELECT image_id, CAST(w AS BIGINT) * h AS n_pix
         FROM img WHERE id % 37 = 0)
SELECT i.image_id, i.n_pix,
       coalesce(a.n_valid, 0) AS n_valid,
       coalesce(a.sum_d2, 0) AS sum_d2,
       coalesce(a.max_d2, 0) AS max_d2,
       CAST(i.n_pix - coalesce(a.n_valid, 0) AS BIGINT) AS n_nodata
FROM dimg i LEFT JOIN dagg a ON a.image_id = i.image_id
"""

ORACLES["pts_bboxes"] = f"""
{_PREFIX}
SELECT qid,
       qlon - 0.125 AS bxmin, qlon + 0.125 AS bxmax,
       qlat - 0.0625 AS bymin, qlat + 0.0625 AS bymax
FROM qpts
"""

# triangle layer verts = [[zxmin,zymin],[zxmax,zymin],[zxmin,zymax]]:
# its bbox IS the zone rect (semantic ground truth; the Spark side
# computes it through the vertex-array path)
ORACLES["poly_bbox_cols"] = f"""
{_PREFIX}
SELECT zone_id AS poly_id,
       zxmin AS xmin, zxmax AS xmax, zymin AS ymin, zymax AS ymax
FROM zones
"""

_TRI_RING = "[[zxmin, zymin], [zxmax, zymin], [zxmin, zymax]]"
ORACLES["poly_centroids"] = f"""
{_PREFIX}
SELECT zone_id AS poly_id,
       {_centroid_d(_TRI_RING, 1)} AS cx,
       {_centroid_d(_TRI_RING, 2)} AS cy
FROM zones
"""

ORACLES["imgs_equal"] = f"""
{_PREFIX},
prs AS (SELECT a.id, a.image_id, a.w, a.h, a.fmt,
               b.image_id AS cmp_image_id, b.fmt AS cmp_fmt
        FROM img a JOIN img b ON b.id = a.id + 97
        WHERE a.id % 13 = 0),
prx AS (SELECT *, unnest(generate_series(0, w - 1)) AS x FROM prs),
prxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM prx),
d AS (SELECT image_id, cmp_image_id,
             {synth.pixel_value_sql('id', 'x', 'y', 'fmt')} AS v1,
             {synth.pixel_value_sql('(id + 97)', 'x', 'y', 'cmp_fmt')} AS v2
      FROM prxy),
a AS (SELECT image_id, cmp_image_id, count(*) AS n_px,
             CAST(sum(CASE WHEN abs(v1 - v2) < 100.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_eq
      FROM d GROUP BY image_id, cmp_image_id)
SELECT image_id, cmp_image_id, n_px, n_eq,
       CAST(n_eq AS DOUBLE) / CAST(n_px AS DOUBLE) AS prop,
       CAST(CASE WHEN CAST(n_eq AS DOUBLE) / CAST(n_px AS DOUBLE) >= 0.5
                 THEN 1 ELSE 0 END AS BIGINT) AS eq_flag
FROM a
"""

# Extracted-sample family (zonalstats HDF5 operators; sources/samples.py)

ORACLES["chip_extract"] = f"""
{_PREFIX},
cxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 7 = 0),
cpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM cxs),
cen AS (SELECT image_id, id, fmt, x, y FROM cpxy
        WHERE {_PXV} = 42
          AND x >= 3 AND x < w - 3 AND y >= 3 AND y < h - 3),
off AS (SELECT a.dx, b.dy
        FROM (SELECT unnest(generate_series(-3, 3)) AS dx) a,
             (SELECT unnest(generate_series(-3, 3)) AS dy) b),
cv AS (SELECT c.image_id, c.x AS cx, c.y AS cy,
              {synth.pixel_value_sql('c.id', '(c.x + o.dx)',
                                     '(c.y + o.dy)', 'c.fmt')} AS v
       FROM cen c CROSS JOIN off o)
SELECT image_id, CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
       CAST(sum(v) AS BIGINT) AS chip_sum,
       CAST(min(v) AS BIGINT) AS chip_min,
       CAST(max(v) AS BIGINT) AS chip_max
FROM cv GROUP BY image_id, cx, cy
"""

ORACLES["sample_split"] = """
SELECT CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < 'cd'
            THEN 'p1' ELSE 'p2' END AS split,
       count(*) AS n_samples,
       min(vec_id) AS min_vec, max(vec_id) AS max_vec,
       count(DISTINCT label) AS n_labels
FROM embeddings GROUP BY 1
"""

# rows failing the all-finite gate are exactly the injected ones
# (vec_id % 17 -> NaN, vec_id % 23 -> +inf; the raw embeddings are
# finite), so the oracle folds the finite test into the id predicate
ORACLES["sample_finite"] = """
SELECT label, count(*) AS n_kept,
       min(vec_id) AS min_vec, max(vec_id) AS max_vec
FROM embeddings
WHERE vec_id % 17 <> 0 AND vec_id % 23 <> 0
  AND len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0)) > 0
  AND len(list_filter(embedding, x -> CAST(x AS DOUBLE) < 0.5)) > 0
GROUP BY label
"""

ORACLES["mosaic_mode"] = f"""
{_PREFIX},
gx AS (SELECT unnest(generate_series(0, 59)) AS px),
gy AS (SELECT unnest(generate_series(0, 59)) AS py),
grid AS (SELECT px, py, 10.0 + (px + 0.5) * 0.001 AS cx,
                45.0 + (py + 0.5) * 0.001 AS cy
         FROM gx, gy),
j AS (SELECT g.px, g.py, i.id, i.fmt,
             least(CAST(floor((g.cx - i.xmin) / 0.001) AS BIGINT),
                   i.w - 1) AS sx,
             least(CAST(floor((i.ymax - g.cy) / 0.001) AS BIGINT),
                   i.h - 1) AS sy
      FROM grid g JOIN imgf i
        ON i.id % 5 = 0
       AND g.cx >= i.xmin AND g.cx < i.xmax
       AND g.cy > i.ymin AND g.cy <= i.ymax),
v AS (SELECT px, py, {_PXSRC} AS v FROM j),
c AS (SELECT px, py, v, count(*) AS n FROM v GROUP BY px, py, v)
SELECT px, py, CAST(sum(n) AS BIGINT) AS n_imgs,
       -(max({{'n': n, 'nv': -v}}).nv) AS mode_v
FROM c GROUP BY px, py
"""

ORACLES["zonal_stats_poly"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt, xmin, ymax,
              unnest(generate_series(0, w - 1)) AS x
       FROM imgf WHERE id % 7 = 0),
px AS (SELECT image_id,
              xmin + (x + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cx,
              ymax - (y + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cy,
              {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
j AS (SELECT z.zone_id, p.v
      FROM px p JOIN zones z
        ON p.cx >= z.zxmin AND p.cx < z.zxmax
       AND ((z.zymin > p.cy) != (z.zymax > p.cy))
       AND p.cx < z.zxmax + (p.cy - z.zymin) * (z.zxmin - z.zxmax)
                              / (z.zymax - z.zymin)),
s AS (SELECT zone_id,
             CAST(count(*) AS DOUBLE) AS n_pix,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) AS sum_pix,
             CAST(min(v) AS DOUBLE) AS min_pix,
             CAST(max(v) AS DOUBLE) AS max_pix,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mean_pix,
             sqrt(CAST(CAST(sum(v * v) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)
                  - (CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE))
                    * (CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE))) AS stddev_pix,
             CAST(median(v) AS DOUBLE) AS median_pix
      FROM j GROUP BY zone_id)
SELECT z.zone_id AS poly_id,
       coalesce(s.n_pix, -9999.0) AS n_pix,
       coalesce(s.sum_pix, -9999.0) AS sum_pix,
       coalesce(s.min_pix, -9999.0) AS min_pix,
       coalesce(s.max_pix, -9999.0) AS max_pix,
       coalesce(s.mean_pix, -9999.0) AS mean_pix,
       coalesce(s.stddev_pix, -9999.0) AS stddev_pix,
       coalesce(s.median_pix, -9999.0) AS median_pix
FROM zones z LEFT JOIN s ON z.zone_id = s.zone_id
"""

ORACLES["zonal_stats_hybrid"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt, xmin, ymax,
              unnest(generate_series(0, w - 1)) AS x
       FROM imgf WHERE id % 7 = 0),
px AS (SELECT image_id,
              xmin + (x + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cx,
              ymax - (y + 0.5) * CAST({synth.IMG_RES_DEG} AS DOUBLE) AS cy,
              {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
j AS (SELECT z.zone_id, p.v
      FROM px p JOIN zones z
        ON p.cx >= z.zxmin AND p.cx < z.zxmax
       AND p.cy >= z.zymin AND p.cy < z.zymax),
s AS (SELECT zone_id,
             CAST(count(*) AS DOUBLE) AS n_pix,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) AS sum_pix,
             CAST(min(v) AS DOUBLE) AS min_pix,
             CAST(max(v) AS DOUBLE) AS max_pix,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mean_pix,
             sqrt(CAST(CAST(sum(v * v) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)
                  - (CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE))
                    * (CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE))) AS stddev_pix,
             CAST(median(v) AS DOUBLE) AS median_pix,
             CAST(quantile_cont(v, 0.75) AS DOUBLE) AS perc_pix
      FROM j GROUP BY zone_id),
pts AS (SELECT zone_id AS pid, (zxmin + zxmax) / 2.0 AS plon,
               (zymin + zymax) / 2.0 AS plat FROM zones),
cc AS (SELECT p.pid, p.plon, p.plat, i.id, i.fmt, i.w, i.h,
              i.xmin, i.ymax,
              row_number() OVER (PARTITION BY p.pid ORDER BY i.id DESC)
                AS rn
       FROM pts p JOIN imgf i
         ON i.id % 7 = 0
        AND p.plon >= i.xmin AND p.plon < i.xmax
        AND p.plat > i.ymin AND p.plat <= i.ymax),
won AS (SELECT pid, id AS wid, fmt AS wfmt,
               least(CAST(floor((plon - xmin) / 0.001) AS BIGINT),
                     w - 1) AS sx,
               least(CAST(floor((ymax - plat) / 0.001) AS BIGINT),
                     h - 1) AS sy
        FROM cc WHERE rn = 1),
cent AS (SELECT p.pid AS zone_id,
                coalesce(CAST({_PXE} AS DOUBLE), -9999.0) AS cv
         FROM pts p LEFT JOIN won w ON p.pid = w.pid)
SELECT z.zone_id, z.zname,
       coalesce(s.n_pix,
                CASE WHEN c.cv != -9999.0 THEN 1.0 ELSE 0.0 END) AS n_pix,
       coalesce(s.sum_pix, c.cv) AS sum_pix,
       coalesce(s.min_pix, c.cv) AS min_pix,
       coalesce(s.max_pix, c.cv) AS max_pix,
       coalesce(s.mean_pix, c.cv) AS mean_pix,
       coalesce(s.stddev_pix,
                CASE WHEN c.cv != -9999.0 THEN 0.0 ELSE -9999.0 END)
         AS stddev_pix,
       coalesce(s.median_pix, c.cv) AS median_pix,
       coalesce(s.perc_pix, c.cv) AS perc_pix
FROM zones z
LEFT JOIN s ON z.zone_id = s.zone_id
LEFT JOIN cent c ON z.zone_id = c.zone_id
"""

ORACLES["zonal_weighted"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt, xmin, ymax,
              unnest(generate_series(0, w - 1)) AS x
       FROM imgf WHERE id % 7 = 0),
px AS (SELECT image_id, x, y, xmin, ymax, {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
wq AS (SELECT z.zone_id, p.v,
              CAST(floor(
                (greatest(least(p.ymax - p.y * {_RD}, z.zymax)
                          - greatest(p.ymax - (p.y + 1) * {_RD}, z.zymin),
                          CAST(0.0 AS DOUBLE)) / {_RD})
                * (greatest(least(p.xmin + (p.x + 1) * {_RD}, z.zxmax)
                            - greatest(p.xmin + p.x * {_RD}, z.zxmin),
                            CAST(0.0 AS DOUBLE)) / {_RD})
                * CAST(1048576.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                AS BIGINT) AS wq
       FROM px p JOIN zones z
         ON p.xmin + (p.x + 1) * {_RD} > z.zxmin
        AND p.xmin + p.x * {_RD} < z.zxmax
        AND p.ymax - p.y * {_RD} > z.zymin
        AND p.ymax - (p.y + 1) * {_RD} < z.zymax)
SELECT zone_id, count(*) AS n_touched,
       CAST(CAST(sum(wq) AS BIGINT) AS DOUBLE)
         / CAST(1048576.0 AS DOUBLE) AS wsum,
       CAST(CAST(sum(wq * v) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(wq) AS BIGINT) AS DOUBLE) AS wmean
FROM wq WHERE wq > 0 GROUP BY zone_id
"""

# polyAreaInPixel: each pixel weighted by the fraction of the ZONE's
# area inside the pixel box ((oy * ox) / zone_area — the fp association
# matches the kernel exactly; see zonal.zonal_stats_weighted).
ORACLES["zonal_polyarea"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt, xmin, ymax,
              unnest(generate_series(0, w - 1)) AS x
       FROM imgf WHERE id % 7 = 0),
px AS (SELECT image_id, x, y, xmin, ymax, {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs)),
wq AS (SELECT z.zone_id, p.v,
              CAST(floor(
                (greatest(least(p.ymax - p.y * {_RD}, z.zymax)
                          - greatest(p.ymax - (p.y + 1) * {_RD}, z.zymin),
                          CAST(0.0 AS DOUBLE))
                 * greatest(least(p.xmin + (p.x + 1) * {_RD}, z.zxmax)
                            - greatest(p.xmin + p.x * {_RD}, z.zxmin),
                            CAST(0.0 AS DOUBLE)))
                / ((z.zxmax - z.zxmin) * (z.zymax - z.zymin))
                * CAST(1048576.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                AS BIGINT) AS wq
       FROM px p JOIN zones z
         ON p.xmin + (p.x + 1) * {_RD} > z.zxmin
        AND p.xmin + p.x * {_RD} < z.zxmax
        AND p.ymax - p.y * {_RD} > z.zymin
        AND p.ymax - (p.y + 1) * {_RD} < z.zymax)
SELECT zone_id, count(*) AS n_touched,
       CAST(CAST(sum(wq) AS BIGINT) AS DOUBLE)
         / CAST(1048576.0 AS DOUBLE) AS wsum,
       CAST(CAST(sum(wq * v) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(wq) AS BIGINT) AS DOUBLE) AS wmean
FROM wq WHERE wq > 0 GROUP BY zone_id
"""

ORACLES["attr_filter"] = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
"""

ORACLES["value_counts"] = """
SELECT c_mktsegment, count(*) AS n_feats FROM customer GROUP BY c_mktsegment
"""

ORACLES["dedup_exact"] = """
SELECT md5(text) AS text_md5, count(*) AS n_dup, min(doc_id) AS rep_doc_id
FROM documents GROUP BY md5(text)
"""

_STOP = "'the', 'a', 'of', 'and', 'in'"

ORACLES["text_quality"] = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ({_STOP}))) AS BIGINT) AS n_stop,
       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ({_STOP}))) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_re_tokens
FROM documents
"""

from .operators.textops import TOKEN_RE as _TOKEN_RE  # noqa: E402

ORACLES["token_count"] = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT)
         AS n_re_tokens,
       CAST(coalesce(list_sum(list_transform(
                regexp_extract_all(text, '{_TOKEN_RE}'),
                t -> (length(t) + 3) // 4)), 0) AS BIGINT) AS n_bpe_est,
       CAST(length(text) AS BIGINT) AS n_chars_tot
FROM documents
"""

_WINNOW_PACK = " + ".join(
    f"lead(code, {i}) OVER (PARTITION BY doc_id ORDER BY pos)"
    f" * CAST({256 ** (7 - i)} AS BIGINT)" for i in range(8))

ORACLES["doc_winnow"] = f"""
WITH n AS (SELECT doc_id,
                  regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS nt
           FROM documents),
g AS (SELECT doc_id, nt, length(nt) - 7 AS ng FROM n WHERE length(nt) >= 8),
p AS (SELECT doc_id, ng, unnest(generate_series(1, length(nt))) AS pos
      FROM g),
cc AS (SELECT p.doc_id, p.ng, p.pos,
              CAST(ascii(substr(g.nt, CAST(p.pos AS INTEGER), 1))
                   AS BIGINT) AS code
       FROM p JOIN g ON p.doc_id = g.doc_id),
h AS (SELECT doc_id, ng, pos, {_WINNOW_PACK} AS gh FROM cc),
w AS (SELECT doc_id, ng, pos,
             min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      FROM h)
SELECT doc_id, wmin AS fp, CAST(count(*) AS BIGINT) AS n_windows
FROM w
WHERE pos <= greatest(ng - 3, 1) AND pos <= ng
GROUP BY doc_id, wmin
"""

ORACLES["lang_id"] = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
           FROM documents),
s AS (SELECT doc_id, lang,
        len(list_filter(toks, t -> t IN ('the', 'a', 'of'))) AS s_en,
        len(list_filter(toks, t -> t IN ('der', 'die', 'und'))) AS s_de,
        len(list_filter(toks, t -> t IN ('le', 'la', 'et'))) AS s_fr,
        len(list_filter(toks, t -> t IN ('el', 'los', 'y'))) AS s_es,
        len(list_filter(toks, t -> t IN ('de5', 'shi4', 'le5'))) AS s_zh
      FROM t),
g AS (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS mx FROM s)
SELECT doc_id, lang,
       CASE WHEN s_en = mx THEN 'en' WHEN s_de = mx THEN 'de'
            WHEN s_fr = mx THEN 'fr' WHEN s_es = mx THEN 'es'
            ELSE 'zh' END AS pred_lang
FROM g
"""

ORACLES["doc_fingerprint"] = """
SELECT doc_id,
       substr(md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')),
              1, 16) AS fp16
FROM documents
"""

_SHINGLES = """
tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
       FROM (SELECT doc_id, ts,
                    unnest(generate_series(1, len(ts) - 2)) AS i
             FROM tok)),
sn AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
cp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
jac AS (SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE)
                 / CAST(x.ns + y.ns - n_common AS DOUBLE) AS jaccard
        FROM cp JOIN sn x ON cp.doc_a = x.doc_id
                JOIN sn y ON cp.doc_b = y.doc_id)
""".strip()

# df-capped candidate generation (max_df=10), exact verify over the full
# shingle sets — mirrors textops.ngram_jaccard_pairs(max_df=10): pairs
# are candidates iff they share >= 1 shingle with document frequency
# <= 10; jaccard is then computed over ALL shared shingles.
ORACLES["ngram_jaccard"] = f"""
WITH {_SHINGLES},
rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
         WHERE df <= 10),
cnd AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT * FROM sh WHERE s IN (SELECT s FROM rare)) a
        JOIN (SELECT * FROM sh WHERE s IN (SELECT s FROM rare)) b
          ON a.s = b.s AND a.doc_id < b.doc_id)
SELECT j.doc_a, j.doc_b, j.n_common, j.jaccard
FROM cnd c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
WHERE j.jaccard >= 0.2
"""

ORACLES["minhash_lsh"] = f"""
WITH {_SHINGLES},
hs AS (SELECT doc_id, k, min(substr(md5(k || ':' || s), 1, 16)) AS sig
       FROM sh, (SELECT unnest(generate_series(0, 7)) AS k)
       GROUP BY doc_id, k),
band AS (SELECT doc_id, k // 4 AS band_id,
                md5(string_agg(sig, '|' ORDER BY k)) AS bucket
         FROM hs GROUP BY doc_id, k // 4),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b
           ON a.band_id = b.band_id AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id)
SELECT j.doc_a, j.doc_b, j.n_common, j.jaccard
FROM cand c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
"""

ORACLES["dedup_clusters"] = f"""
WITH {_SHINGLES},
hs AS (SELECT doc_id, k, min(substr(md5(k || ':' || s), 1, 16)) AS sig
       FROM sh, (SELECT unnest(generate_series(0, 7)) AS k)
       GROUP BY doc_id, k),
band AS (SELECT doc_id, k // 4 AS band_id,
                md5(string_agg(sig, '|' ORDER BY k)) AS bucket
         FROM hs GROUP BY doc_id, k // 4),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b
           ON a.band_id = b.band_id AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
vp AS MATERIALIZED (SELECT c.doc_a, c.doc_b
       FROM cand c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
       WHERE j.jaccard >= CAST(0.8 AS DOUBLE)),
ed AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM vp
       UNION ALL SELECT doc_b, doc_a FROM vp),
c0 AS MATERIALIZED (SELECT DISTINCT doc_id, doc_id AS lab FROM documents),
cm1 AS MATERIALIZED (SELECT l.doc_id,
               least(min(l.lab), coalesce(min(nl.lab), min(l.lab))) AS lab
         FROM c0 l
         LEFT JOIN ed e ON e.a = l.doc_id
         LEFT JOIN c0 nl ON nl.doc_id = e.b
         GROUP BY l.doc_id),
c1 AS MATERIALIZED (SELECT m.doc_id, t.lab FROM cm1 m
         JOIN cm1 t ON t.doc_id = m.lab),
cm2 AS MATERIALIZED (SELECT l.doc_id,
               least(min(l.lab), coalesce(min(nl.lab), min(l.lab))) AS lab
         FROM c1 l
         LEFT JOIN ed e ON e.a = l.doc_id
         LEFT JOIN c1 nl ON nl.doc_id = e.b
         GROUP BY l.doc_id),
c2 AS MATERIALIZED (SELECT m.doc_id, t.lab FROM cm2 m
         JOIN cm2 t ON t.doc_id = m.lab),
cm3 AS MATERIALIZED (SELECT l.doc_id,
               least(min(l.lab), coalesce(min(nl.lab), min(l.lab))) AS lab
         FROM c2 l
         LEFT JOIN ed e ON e.a = l.doc_id
         LEFT JOIN c2 nl ON nl.doc_id = e.b
         GROUP BY l.doc_id),
c3 AS MATERIALIZED (SELECT m.doc_id, t.lab FROM cm3 m
         JOIN cm3 t ON t.doc_id = m.lab),
cm4 AS MATERIALIZED (SELECT l.doc_id,
               least(min(l.lab), coalesce(min(nl.lab), min(l.lab))) AS lab
         FROM c3 l
         LEFT JOIN ed e ON e.a = l.doc_id
         LEFT JOIN c3 nl ON nl.doc_id = e.b
         GROUP BY l.doc_id),
c4 AS MATERIALIZED (SELECT m.doc_id, t.lab FROM cm4 m
         JOIN cm4 t ON t.doc_id = m.lab),
cm5 AS MATERIALIZED (SELECT l.doc_id,
               least(min(l.lab), coalesce(min(nl.lab), min(l.lab))) AS lab
         FROM c4 l
         LEFT JOIN ed e ON e.a = l.doc_id
         LEFT JOIN c4 nl ON nl.doc_id = e.b
         GROUP BY l.doc_id),
c5 AS MATERIALIZED (SELECT m.doc_id, t.lab FROM cm5 m
         JOIN cm5 t ON t.doc_id = m.lab),
cm6 AS MATERIALIZED (SELECT l.doc_id,
               least(min(l.lab), coalesce(min(nl.lab), min(l.lab))) AS lab
         FROM c5 l
         LEFT JOIN ed e ON e.a = l.doc_id
         LEFT JOIN c5 nl ON nl.doc_id = e.b
         GROUP BY l.doc_id),
c6 AS MATERIALIZED (SELECT m.doc_id, t.lab FROM cm6 m
         JOIN cm6 t ON t.doc_id = m.lab),
csz AS (SELECT lab, count(*) AS cluster_size FROM c6 GROUP BY lab)
SELECT c.doc_id, CAST(c.lab AS BIGINT) AS cluster_id,
       CAST(s.cluster_size AS BIGINT) AS cluster_size,
       c.doc_id = c.lab AS is_canonical
FROM c6 c JOIN csz s ON s.lab = c.lab
"""

ORACLES["simhash"] = """
WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
             FROM documents),
h AS (SELECT doc_id, md5(t) AS m FROM tok),
v AS (SELECT doc_id, b,
             sum(CASE WHEN substr(m, CAST(b AS INT) + 1, 1) >= '8'
                      THEN 1 ELSE -1 END) AS sgn
      FROM h, (SELECT unnest(generate_series(0, 15)) AS b) GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN sgn > 0
                     THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                     ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash16
FROM v GROUP BY doc_id
"""

# the CAST to DOUBLE before scaling is load-bearing: float32*1000 in
# single precision can hit exact .5 boundaries double math avoids
# (see similarity.quantize)
_QZ = ("list_transform(embedding, v -> "
       "CAST(round(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))")

ORACLES["embed_topk"] = f"""
WITH qv AS (SELECT vec_id AS qid, {_QZ} AS q
            FROM embeddings WHERE vec_id < 40),
cv AS (SELECT vec_id, {_QZ} AS c FROM embeddings),
d AS (SELECT qid, vec_id,
             CAST(sum(q[i] * c[i]) AS BIGINT) AS dot,
             CAST(sum(q[i] * q[i]) AS BIGINT) AS nq,
             CAST(sum(c[i] * c[i]) AS BIGINT) AS nc
      FROM qv, cv, (SELECT unnest(generate_series(1, 64)) AS i)
      WHERE qid != vec_id GROUP BY qid, vec_id),
s AS (SELECT qid, vec_id,
             CAST(dot AS DOUBLE) / sqrt(CAST(nq * nc AS DOUBLE)) AS sim
      FROM d),
r AS (SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, vec_id) AS rank
      FROM s)
SELECT qid, vec_id, rank, sim FROM r WHERE rank <= 5
"""

ORACLES["embed_ann_lsh"] = f"""
WITH v AS (SELECT vec_id, {_QZ} AS q FROM embeddings),
proj AS (SELECT vec_id, p,
                CAST(sum(q[i + 1] * ((p * 37 + i * 73) % 19 - 9))
                     AS BIGINT) AS pr
         FROM v, (SELECT unnest(generate_series(0, 63)) AS i),
              (SELECT unnest(generate_series(0, 7)) AS p)
         GROUP BY vec_id, p),
buck AS (SELECT vec_id,
                CAST(sum(CASE WHEN pr > 0
                              THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         FROM proj GROUP BY vec_id),
vb AS (SELECT v.vec_id, q, bucket FROM v JOIN buck USING (vec_id)),
pairs AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, a.bucket,
                 CAST(sum(a.q[i] * b.q[i]) AS BIGINT) AS dot,
                 CAST(sum(a.q[i] * a.q[i]) AS BIGINT) AS nq,
                 CAST(sum(b.q[i] * b.q[i]) AS BIGINT) AS nc
          FROM vb a JOIN vb b
            ON a.bucket = b.bucket AND a.vec_id != b.vec_id,
               (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY 1, 2, 3),
s AS (SELECT qid, vec_id, bucket,
             CAST(dot AS DOUBLE) / sqrt(CAST(nq * nc AS DOUBLE)) AS sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY CAST(dot AS DOUBLE)
                                  / sqrt(CAST(nq * nc AS DOUBLE)) DESC,
                                  vec_id) AS rn
      FROM pairs)
SELECT qid, vec_id, bucket, sim FROM s WHERE rn = 1
"""

ORACLES["gram_matrix"] = f"""
WITH v AS (SELECT {_QZ} AS q FROM embeddings)
SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
       CAST(sum(q[i] * q[j]) AS BIGINT) AS g
FROM v, (SELECT unnest(generate_series(1, 64)) AS i),
     (SELECT unnest(generate_series(1, 64)) AS j)
WHERE j >= i
GROUP BY i, j
"""

# perform_image_mnf noise-scatter core: adjacent-vec_id differences
ORACLES["mnf_gram"] = f"""
WITH v AS (SELECT vec_id, {_QZ} AS q FROM embeddings),
p AS (SELECT a.q AS qa, b.q AS qb
      FROM v a JOIN v b ON b.vec_id = a.vec_id + 1)
SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
       CAST(sum((qa[i] - qb[i]) * (qa[j] - qb[j])) AS BIGINT) AS g
FROM p, (SELECT unnest(generate_series(1, 64)) AS i),
     (SELECT unnest(generate_series(1, 64)) AS j)
WHERE j >= i
GROUP BY i, j
"""


def _pca_project_oracle() -> str:
    """perform_image_pca oracle: the exact-integer power iteration of
    similarity.power_iteration_int unrolled as SQL CTEs (12 rounds,
    trunc-toward-zero fixed-point normalization — identical integer
    ops, hence bit-identical to the engine's driver-side recurrence),
    then the per-vector projection."""
    from .operators.similarity import PCA_ITERS

    its = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        its.append(f"""
u{t} AS MATERIALIZED (
  SELECT gi AS vi, CAST(sum(g * x) AS BIGINT) AS u
  FROM gs JOIN {prev} ON gj = vi GROUP BY gi),
v{t} AS MATERIALIZED (
  SELECT vi, CASE WHEN u < 0 THEN -((-u) // d) ELSE u // d END AS x
  FROM u{t}, (SELECT greatest(max(abs(u)) // 1048576, 1) AS d
              FROM u{t}))""")
        prev = f"v{t}"
    return f"""
WITH v AS MATERIALIZED (SELECT vec_id, {_QZ} AS q FROM embeddings),
idx AS (SELECT unnest(generate_series(1, 64)) AS i),
gfull AS MATERIALIZED (
  SELECT a.i AS gi, b.i AS gj,
         CAST(sum(q[a.i] * q[b.i]) AS BIGINT) AS g
  FROM v, idx a, idx b GROUP BY gi, gj),
gs AS MATERIALIZED (
  SELECT gi, gj,
         CASE WHEN g < 0 THEN -((-g) // 1024) ELSE g // 1024 END AS g
  FROM gfull),
v0 AS (SELECT i AS vi, CAST(1048576 AS BIGINT) AS x FROM idx),{",".join(its)}
SELECT vec_id, CAST(sum(q[w.vi] * w.x) AS BIGINT) AS pc1
FROM v, {prev} w
GROUP BY vec_id
"""


ORACLES["pca_project"] = _pca_project_oracle()

ORACLES["embed_neardup"] = f"""
WITH v AS (SELECT vec_id, {_QZ} AS q FROM embeddings),
proj AS (SELECT vec_id, p,
                CAST(sum(q[i + 1] * ((p * 37 + i * 73) % 19 - 9))
                     AS BIGINT) AS pr
         FROM v, (SELECT unnest(generate_series(0, 63)) AS i),
              (SELECT unnest(generate_series(0, 7)) AS p)
         GROUP BY vec_id, p),
buck AS (SELECT vec_id,
                CAST(sum(CASE WHEN pr > 0
                              THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         FROM proj GROUP BY vec_id),
vb AS (SELECT v.vec_id, q, bucket FROM v JOIN buck USING (vec_id)),
pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 CAST(sum(a.q[i] * b.q[i]) AS BIGINT) AS dot,
                 CAST(sum(a.q[i] * a.q[i]) AS BIGINT) AS nq,
                 CAST(sum(b.q[i] * b.q[i]) AS BIGINT) AS nc
          FROM vb a JOIN vb b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id,
               (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY 1, 2)
SELECT vec_a, vec_b,
       CAST(dot AS DOUBLE) / sqrt(CAST(nq * nc AS DOUBLE)) AS sim
FROM pairs
WHERE CAST(dot AS DOUBLE) / sqrt(CAST(nq * nc AS DOUBLE)) >= 0.8
"""

ORACLES["embed_ann_multiprobe"] = f"""
WITH v AS (SELECT vec_id, {_QZ} AS q FROM embeddings),
proj AS (SELECT vec_id, p,
                CAST(sum(q[i + 1] * ((p * 37 + i * 73) % 19 - 9))
                     AS BIGINT) AS pr
         FROM v, (SELECT unnest(generate_series(0, 63)) AS i),
              (SELECT unnest(generate_series(0, 7)) AS p)
         GROUP BY vec_id, p),
buck AS (SELECT vec_id,
                CAST(sum(CASE WHEN pr > 0
                              THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         FROM proj GROUP BY vec_id),
vb AS (SELECT v.vec_id, q, bucket FROM v JOIN buck USING (vec_id)),
probes AS (SELECT vec_id, q, bucket AS probe FROM vb
           UNION ALL
           SELECT vec_id, q,
                  xor(bucket, (CAST(1 AS BIGINT) << CAST(p AS INT))) AS probe
           FROM vb, (SELECT unnest(generate_series(0, 7)) AS p)),
pairs AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
          FROM probes a JOIN vb b
            ON a.probe = b.bucket AND a.vec_id != b.vec_id),
d AS (SELECT p.qid, p.cid,
             CAST(sum(x.q[i] * y.q[i]) AS BIGINT) AS dot,
             CAST(sum(x.q[i] * x.q[i]) AS BIGINT) AS nq,
             CAST(sum(y.q[i] * y.q[i]) AS BIGINT) AS nc
      FROM pairs p JOIN v x ON p.qid = x.vec_id
                   JOIN v y ON p.cid = y.vec_id,
           (SELECT unnest(generate_series(1, 64)) AS i)
      GROUP BY 1, 2),
s AS (SELECT qid, cid AS vec_id,
             CAST(dot AS DOUBLE) / sqrt(CAST(nq * nc AS DOUBLE)) AS sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY CAST(dot AS DOUBLE)
                                  / sqrt(CAST(nq * nc AS DOUBLE)) DESC,
                                  cid) AS rn
      FROM d)
SELECT qid, vec_id, sim FROM s WHERE rn = 1
"""

ORACLES["centroid_assign"] = f"""
WITH v AS (SELECT vec_id, label, {_QZ} AS q FROM embeddings),
comp AS (SELECT vec_id, label, i, q[i] AS x
         FROM v, (SELECT unnest(generate_series(1, 64)) AS i)),
cents AS (SELECT label AS clabel, i, CAST(sum(x) AS BIGINT) AS s,
                 count(*) AS n
          FROM comp GROUP BY 1, 2),
dist AS (SELECT vec_id, label, clabel, n,
                CAST(sum((n * x - s) * (n * x - s)) AS BIGINT) AS a2
         FROM comp JOIN cents USING (i)
         GROUP BY vec_id, label, clabel, n),
r AS (SELECT vec_id, label, clabel,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY CAST(a2 AS DOUBLE) / CAST(n * n AS DOUBLE),
                        clabel) AS rn
      FROM dist)
SELECT vec_id, label, clabel AS pred_label,
       (label = clabel) AS is_correct
FROM r WHERE rn = 1
"""

ORACLES["recode_region"] = """
SELECT r_name, count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

ORACLES["pricing_summary"] = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
         CAST(round(l_quantity) AS BIGINT) AS qty_i
  FROM lineitem)
SELECT l_returnflag, l_linestatus,
       CAST(sum(qty_i) AS BIGINT) AS sum_qty,
       CAST(sum(price_c) AS BIGINT) AS sum_base_c,
       CAST(sum(price_c * (100 - disc_pct)) AS BIGINT) AS sum_disc_cc,
       count(*) AS n_rows
FROM li GROUP BY l_returnflag, l_linestatus
"""

ORACLES["revenue_by_nation"] = """
WITH li AS (
  SELECT l_orderkey,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cc
  FROM lineitem)
SELECT n_name, CAST(sum(rev_cc) AS BIGINT) AS revenue_cc,
       count(*) AS n_items
FROM li
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

ORACLES["topk_largest"] = f"""
{_PREFIX}
SELECT image_id, w, h, CAST(w AS BIGINT) * h AS area
FROM img ORDER BY area DESC, id LIMIT 20
"""

ORACLES["lut_query"] = f"""
{_PREFIX}
SELECT image_id, xmin, xmax, ymin, ymax
FROM imgf
WHERE xmax > 9.0 AND 11.0 > xmin AND ymax > 44.0 AND 46.0 > ymin
"""

_PXRS = synth.pixel_value_sql("id", "((x * w) // 16)", "((y * h) // 16)",
                              "fmt")

ORACLES["resize_stats"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(0, 15)) AS x
       FROM img WHERE id % 7 = 0),
px AS (SELECT image_id, {_PXRS} AS v
       FROM (SELECT *, unnest(generate_series(0, 15)) AS y FROM xs))
SELECT image_id, CAST(16 AS BIGINT) AS out_w, CAST(16 AS BIGINT) AS out_h,
       CAST(sum(v) AS BIGINT) AS sum_pix
FROM px GROUP BY image_id
"""

ORACLES["frame_sample"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 7 = 0),
px AS (SELECT image_id, y, {_PXV} AS v
       FROM (SELECT *, unnest(generate_series(0, h - 1, 4)) AS y FROM xs))
SELECT image_id,
       CAST(count(DISTINCT y) AS BIGINT) AS n_frames,
       CAST(sum(v) AS BIGINT) AS sum_sampled
FROM px GROUP BY image_id
"""

ORACLES["lineage_records"] = f"""
{_PREFIX}
SELECT {_CELL} AS cell, count(*) AS n_rows,
       CAST(sum(phash % 1000003) AS BIGINT) AS sum_phash,
       min(id) AS min_id, max(id) AS max_id,
       CAST(0 AS BIGINT) AS snapshot_id
FROM img GROUP BY 1
"""

ORACLES["stream_hourly"] = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1, 2
"""

ORACLES["stream_dedup"] = """
SELECT DISTINCT event_id, user_id, event_type, value FROM events
"""

ORACLES["sessionize"] = """
WITH o AS (
  SELECT user_id, event_id,
         CASE WHEN CAST(epoch(ts) AS BIGINT)
                   - lag(CAST(epoch(ts) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events)
SELECT user_id, CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM o GROUP BY user_id
"""

ORACLES["sessionize_stateful"] = ORACLES["sessionize"]

ORACLES["events_hourly"] = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1, 2
"""

ORACLES["rat_cat_props"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_RAT_VALS},
cc AS (SELECT image_id, cid, v % 4 AS cat, count(*) AS cat_pix
       FROM vals GROUP BY image_id, cid, v % 4)
SELECT cc.image_id, cc.cid AS clump_id, CAST(cl.n_pix AS BIGINT) AS n_pix,
       CAST(cc.cat AS BIGINT) AS category,
       CAST(cc.cat_pix AS BIGINT) AS cat_pix,
       CAST(cc.cat_pix AS DOUBLE) / CAST(cl.n_pix AS DOUBLE) AS prop
FROM cc
JOIN rl ON rl.image_id = cc.image_id AND rl.cid = cc.cid
JOIN cl ON cl.image_id = cc.image_id AND cl.root = rl.root
"""

ORACLES["rat_cat_majority"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_RAT_VALS},
cc AS (SELECT image_id, cid, v % 4 AS cat, count(*) AS cat_pix
       FROM vals GROUP BY image_id, cid, v % 4),
rnk AS (SELECT *, row_number() OVER (PARTITION BY image_id, cid
                                     ORDER BY cat_pix DESC, cat ASC) AS rn
        FROM cc)
SELECT r.image_id, r.cid AS clump_id, CAST(cl.n_pix AS BIGINT) AS n_pix,
       CAST(r.cat AS BIGINT) AS maj_cat,
       CAST(r.cat_pix AS DOUBLE) / CAST(cl.n_pix AS DOUBLE) AS maj_prop
FROM rnk r
JOIN rl ON rl.image_id = r.image_id AND rl.cid = r.cid
JOIN cl ON cl.image_id = r.image_id AND cl.root = rl.root
WHERE r.rn = 1
"""

ORACLES["rel_diff_neigh"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_SEG_ADJ},
d AS (SELECT a.image_id, a.ca,
             CAST(pa.n_pix AS BIGINT) - CAST(pb.n_pix AS BIGINT) AS diff
      FROM adjc a
      JOIN rl la ON la.image_id = a.image_id AND la.cid = a.ca
      JOIN cl pa ON pa.image_id = a.image_id AND pa.root = la.root
      JOIN rl lb ON lb.image_id = a.image_id AND lb.cid = a.cb
      JOIN cl pb ON pb.image_id = a.image_id AND pb.root = lb.root),
st AS (SELECT image_id, ca, CAST(count(*) AS BIGINT) AS n_neigh,
              CAST(min(diff) AS BIGINT) AS mn,
              CAST(max(diff) AS BIGINT) AS mx,
              CAST(sum(diff) AS BIGINT) AS sm
       FROM d GROUP BY image_id, ca)
SELECT rl.image_id, rl.cid AS clump_id, CAST(cl.n_pix AS BIGINT) AS n_pix,
       CAST(coalesce(st.n_neigh, 0) AS BIGINT) AS n_neigh,
       CAST(coalesce(st.mn, 0) AS DOUBLE) AS min_diff,
       CAST(coalesce(st.mx, 0) AS DOUBLE) AS max_diff,
       CASE WHEN st.n_neigh > 0
            THEN CAST(st.sm AS DOUBLE) / CAST(st.n_neigh AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS mean_diff,
       CAST(coalesce(st.sm, 0) AS DOUBLE) AS sum_diff
FROM rl
JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root
LEFT JOIN st ON st.image_id = rl.image_id AND st.ca = rl.cid
"""

ORACLES["rat_meanlit"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
pv AS (SELECT c.image_id, rl.cid,
              {synth.pixel_value_sql('i.id', 'c.x', 'c.y', 'i.fmt')} AS v1,
              {synth.pixel_value_sql('i.id', '(i.w - 1 - c.x)', 'c.y', 'i.fmt')} AS v2
       FROM comp c
       JOIN img i ON i.image_id = c.image_id
       JOIN rl ON rl.image_id = c.image_id AND rl.root = c.root),
m AS (SELECT image_id, cid, CAST(sum(v2) AS BIGINT) AS s2,
             CAST(count(*) AS BIGINT) AS n
      FROM pv GROUP BY image_id, cid),
lit AS (SELECT p.image_id, p.cid, p.v1, m.n
        FROM pv p JOIN m ON m.image_id = p.image_id AND m.cid = p.cid
        WHERE p.v2 * m.n >= m.s2)
SELECT image_id, cid AS clump_id, CAST(min(n) AS BIGINT) AS n_pix,
       CAST(count(*) AS BIGINT) AS lit_pix,
       CAST(min(v1) AS BIGINT) AS lit_min,
       CAST(max(v1) AS BIGINT) AS lit_max,
       CAST(sum(v1) AS BIGINT) AS lit_sum,
       CAST(sum(v1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS lit_mean
FROM lit GROUP BY image_id, cid
"""

# calc_dist_to_large_clumps: the min pixel-pair distance between a small
# clump and the large-clump set is attained between 8-BOUNDARY pixels
# (an interior pixel's neighbour toward the target is strictly closer
# and stays in the same set), so the brute-force pair join only needs
# boundary pixels — ~10-15% of the lattice under the stripe-shaped
# synthetic clumps.
ORACLES["dist_large_clumps"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
compm AS MATERIALIZED (
  SELECT c.image_id, c.x, c.y, c.root, i.w, i.h
  FROM comp c JOIN img i ON i.image_id = c.image_id),
offs AS (SELECT * FROM (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1),
                               (0, 1), (1, -1), (1, 0), (1, 1)) t(dx, dy)),
bnd AS MATERIALIZED (
  SELECT DISTINCT image_id, x, y, root FROM (
    SELECT a.image_id, a.x, a.y, a.root, b.root AS broot
    FROM compm a
    CROSS JOIN offs o
    LEFT JOIN compm b ON b.image_id = a.image_id
                     AND b.x = a.x + o.dx AND b.y = a.y + o.dy)
  WHERE broot IS NULL OR broot <> root),
sb AS (SELECT b.image_id, b.x, b.y, b.root
       FROM bnd b JOIN cl ON cl.image_id = b.image_id AND cl.root = b.root
       WHERE cl.n_pix < 500),
lb AS (SELECT b.image_id, b.x, b.y
       FROM bnd b JOIN cl ON cl.image_id = b.image_id AND cl.root = b.root
       WHERE cl.n_pix >= 500),
d AS (SELECT s.image_id, s.root,
             min((s.x - l.x) * (s.x - l.x)
                 + (s.y - l.y) * (s.y - l.y)) AS msq
      FROM sb s JOIN lb l ON l.image_id = s.image_id
      GROUP BY s.image_id, s.root)
SELECT d.image_id, rl.cid AS clump_id, CAST(cl.n_pix AS BIGINT) AS n_pix,
       CAST(d.msq AS BIGINT) AS min_sq_px,
       sqrt(CAST(d.msq AS DOUBLE)) * CAST(0.001 AS DOUBLE) AS dist_deg
FROM d
JOIN rl ON rl.image_id = d.image_id AND rl.root = d.root
JOIN cl ON cl.image_id = d.image_id AND cl.root = d.root
"""

_TILEPOS_PX = f"""SELECT image_id, w, x, y,
       ((({synth.pixel_value_sql('id', 'x', 'y', 'fmt')}) // 128)
        * (({synth.pixel_value_sql('id', '(w - 1 - x)', 'y', 'fmt')}) // 128)) % 2 AS q
FROM (SELECT image_id, id, w, fmt, x,
             unnest(generate_series(0, h - 1)) AS y
      FROM (SELECT image_id, id, w, h, fmt,
                   unnest(generate_series(0, w - 1)) AS x
            FROM img WHERE id % 19 = 0))"""

# define_clump_tile_positions over the diamond-cell plane (the plain
# stripes always touch the image edge -> on_border would be vacuous).
ORACLES["clump_tile_pos"] = f"""
{_PREFIX},
{_cc_segments_cte(px_sql=_TILEPOS_PX, rounds=20)},
{_RL},
pc AS (SELECT c.image_id, c.root,
              CASE WHEN least(c.x - (c.x // 48) * 48,
                              least((c.x // 48) * 48 + 48, i.w) - 1 - c.x,
                              c.y - (c.y // 32) * 32,
                              least((c.y // 32) * 32 + 32, i.h) - 1 - c.y) < 4
                   THEN 1
                   WHEN least(c.x - (c.x // 48) * 48,
                              least((c.x // 48) * 48 + 48, i.w) - 1 - c.x,
                              c.y - (c.y // 32) * 32,
                              least((c.y // 32) * 32 + 32, i.h) - 1 - c.y) < 6
                   THEN 2 ELSE 3 END AS code,
              CASE WHEN c.x = 0 OR c.y = 0 OR c.x = i.w - 1
                        OR c.y = i.h - 1 THEN 1 ELSE 0 END AS edge
       FROM comp c JOIN img i ON i.image_id = c.image_id),
agg AS (SELECT image_id, root,
               max(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS has_ov,
               max(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS has_bd,
               max(CASE WHEN code = 3 THEN 1 ELSE 0 END) AS has_body,
               max(edge) AS on_border
        FROM pc GROUP BY image_id, root)
SELECT a.image_id, rl.cid AS clump_id, CAST(cl.n_pix AS BIGINT) AS n_pix,
       CAST(CASE WHEN a.has_bd = 1 OR (a.has_ov = 1 AND a.has_body = 1)
                 THEN 2
                 WHEN a.has_ov = 1 THEN 1
                 WHEN a.has_body = 1 THEN 3 ELSE 0 END AS BIGINT)
           AS tile_pos,
       CAST(a.on_border AS BIGINT) AS on_border
FROM agg a
JOIN rl ON rl.image_id = a.image_id AND rl.root = a.root
JOIN cl ON cl.image_id = a.image_id AND cl.root = rl.root
"""
ORACLES["change_clumps"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
st AS (SELECT image_id, cls, CAST(count(*) AS BIGINT) AS nn,
              CAST(sum(n_pix) AS BIGINT) AS s,
              CAST(sum(n_pix * n_pix) AS BIGINT) AS ss
       FROM cl GROUP BY image_id, cls)
SELECT cl.image_id, rl.cid AS clump_id, CAST(cl.cls AS BIGINT) AS cls,
       CAST(cl.n_pix AS BIGINT) AS n_pix,
       CAST(CASE WHEN (cl.n_pix * st.nn - st.s) * (cl.n_pix * st.nn - st.s)
                      > 1 * (st.nn * st.ss - st.s * st.s)
                 THEN 1 ELSE 0 END AS BIGINT) AS change
FROM cl
JOIN rl ON rl.image_id = cl.image_id AND rl.root = cl.root
JOIN st ON st.image_id = cl.image_id AND st.cls = cl.cls
"""

ORACLES["select_on_grid"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
gsum AS (SELECT r.image_id, s.root,
                CAST(sum((r.x0 + r.x1) * r.len) // 2 AS BIGINT) AS sx,
                CAST(sum(r.y * r.len) AS BIGINT) AS sy
         FROM runs r JOIN rlab s
           ON s.image_id = r.image_id AND s.rid = r.rid
         GROUP BY r.image_id, s.root),
cent AS (SELECT rl.image_id, rl.cid, CAST(cl.n_pix AS BIGINT) AS n_pix,
                i.lon + (CAST(g.sx AS DOUBLE) / CAST(cl.n_pix AS DOUBLE)
                         + CAST(0.5 AS DOUBLE)) * {_RD} AS mean_e,
                i.lat - (CAST(g.sy AS DOUBLE) / CAST(cl.n_pix AS DOUBLE)
                         + CAST(0.5 AS DOUBLE)) * {_RD} AS mean_n,
                i.lon AS lon, i.lat AS lat, i.w AS w, i.h AS h
         FROM rl
         JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root
         JOIN gsum g ON g.image_id = rl.image_id AND g.root = rl.root
         JOIN img i ON i.image_id = rl.image_id),
tix AS (SELECT image_id, cid, n_pix,
               greatest(CAST(0 AS BIGINT),
                 CAST(ceil((lat - mean_n)
                      / ((CAST(h AS DOUBLE) * {_RD})
                         / CAST(4 AS DOUBLE))) AS BIGINT) - 1) AS tile_row,
               greatest(CAST(0 AS BIGINT),
                 CAST(ceil((mean_e - lon)
                      / ((CAST(w AS DOUBLE) * {_RD})
                         / CAST(4 AS DOUBLE))) AS BIGINT) - 1) AS tile_col
        FROM cent),
sel AS (SELECT image_id, cid, row_number() OVER (
              PARTITION BY image_id, tile_row, tile_col
              ORDER BY n_pix ASC, cid ASC) AS rn
        FROM tix)
SELECT t.image_id, t.cid AS clump_id, t.n_pix, t.tile_row, t.tile_col,
       CAST(CASE WHEN s.rn = 1 THEN 1 ELSE 0 END AS INT) AS sel
FROM tix t JOIN sel s ON s.image_id = t.image_id AND s.cid = t.cid
"""

# deterministic-ISODATA round over the kmeans centres: one merge of
# the closest adjacent pair (<100), one split of the highest-variance
# qualifying class (HUGEINT cross-multiplied exact argmax), reassign.
ORACLES["isodata"] = f"""
{_PREFIX},
{_kmeans_ctes()},
icent AS MATERIALIZED (SELECT image_id, unnest([0, 1, 2, 3]) AS j,
                 unnest([k0, k1, k2, k3]) AS c
          FROM kc),
iasg0 AS (SELECT h.image_id, h.v, h.n, t.j,
                 row_number() OVER (PARTITION BY h.image_id, h.v
                                    ORDER BY abs(h.v - t.c), t.j) AS rn
          FROM khist h JOIN icent t ON t.image_id = h.image_id),
iasg AS (SELECT image_id, v, n, j FROM iasg0 WHERE rn = 1),
ist AS (SELECT c.image_id, c.j, c.c,
               CAST(coalesce(sum(a.n), 0) AS BIGINT) AS nn,
               CAST(coalesce(sum(a.v * a.n), 0) AS BIGINT) AS sv,
               CAST(coalesce(sum(a.v * a.v * a.n), 0) AS BIGINT) AS ssv
        FROM icent c
        LEFT JOIN iasg a ON a.image_id = c.image_id AND a.j = c.j
        GROUP BY c.image_id, c.j, c.c),
isrt AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY image_id
                                      ORDER BY c, j) - 1 AS r
         FROM ist),
igap AS (SELECT a.image_id, a.r AS ri, b.c - a.c AS gap,
                a.c AS lc, a.r AS lr
         FROM isrt a JOIN isrt b
           ON b.image_id = a.image_id AND b.r = a.r + 1
         WHERE b.c - a.c < 100),
impick AS (SELECT image_id, ri FROM (
             SELECT *, row_number() OVER (PARTITION BY image_id
                       ORDER BY gap, lc, lr) AS rn FROM igap)
           WHERE rn = 1),
ipm AS MATERIALIZED (SELECT s.image_id, s.c, s.r AS rank, s.nn, s.sv, s.ssv
        FROM isrt s LEFT JOIN impick m ON m.image_id = s.image_id
        WHERE m.ri IS NULL OR (s.r <> m.ri AND s.r <> m.ri + 1)
        UNION ALL
        SELECT a.image_id,
               CASE WHEN a.nn + b.nn > 0
                    THEN CAST((a.sv + b.sv) // (a.nn + b.nn) AS BIGINT)
                    ELSE CAST((a.c + b.c) // 2 AS BIGINT) END,
               least(a.r, b.r), a.nn + b.nn, a.sv + b.sv, a.ssv + b.ssv
        FROM impick m
        JOIN isrt a ON a.image_id = m.image_id AND a.r = m.ri
        JOIN isrt b ON b.image_id = m.image_id AND b.r = m.ri + 1),
iqual AS MATERIALIZED (SELECT *, CAST(nn AS HUGEINT) * ssv
                    - CAST(sv AS HUGEINT) * sv AS va
          FROM ipm
          WHERE nn >= 32
            AND CAST(nn AS HUGEINT) * ssv - CAST(sv AS HUGEINT) * sv
                > 3000 * CAST(nn AS HUGEINT) * nn),
ispick AS MATERIALIZED (SELECT q1.image_id, q1.c, q1.rank, q1.nn, q1.sv
           FROM iqual q1
           WHERE NOT EXISTS (
             SELECT 1 FROM iqual q2
             WHERE q2.image_id = q1.image_id
               AND (q2.c <> q1.c OR q2.rank <> q1.rank)
               AND (q2.va * CAST(q1.nn AS HUGEINT) * q1.nn
                      > q1.va * CAST(q2.nn AS HUGEINT) * q2.nn
                    OR (q2.va * CAST(q1.nn AS HUGEINT) * q1.nn
                          = q1.va * CAST(q2.nn AS HUGEINT) * q2.nn
                        AND (q2.c < q1.c
                             OR (q2.c = q1.c AND q2.rank < q1.rank)))))),
ifin AS (SELECT p.image_id, p.c, p.rank
         FROM ipm p LEFT JOIN ispick sp
           ON sp.image_id = p.image_id AND sp.c = p.c AND sp.rank = p.rank
         WHERE sp.image_id IS NULL
         UNION ALL
         SELECT image_id, CAST(sv // nn - 8 AS BIGINT), rank FROM ispick
         UNION ALL
         SELECT image_id, CAST(sv // nn + 8 AS BIGINT), rank FROM ispick),
ifr AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY image_id
                                     ORDER BY c, rank) - 1 AS cls
        FROM ifin),
ifasg AS (SELECT image_id, v, n, cls FROM (
            SELECT h.image_id, h.v, h.n, f.cls,
                   row_number() OVER (PARTITION BY h.image_id, h.v
                                      ORDER BY abs(h.v - f.c), f.cls) AS rn
            FROM khist h JOIN ifr f ON f.image_id = h.image_id)
          WHERE rn = 1),
ifcnt AS (SELECT image_id, cls, CAST(sum(n) AS BIGINT) AS n_pix
          FROM ifasg GROUP BY image_id, cls)
SELECT f.image_id, CAST(f.cls AS BIGINT) AS cls,
       CAST(f.c AS BIGINT) AS centre,
       CAST(coalesce(t.n_pix, 0) AS BIGINT) AS n_pix
FROM ifr f LEFT JOIN ifcnt t
  ON t.image_id = f.image_id AND t.cls = f.cls
"""


# ---------------------------------------------------------------- elevation
# DEM derivatives (python/src/elevation.cpp; RSGISDEMTools.cpp Horn
# kernels).  The DEM plane, gradient sums, slope-class thresholds and
# the hillshade IEEE tree are shared verbatim with
# operators/elevation.py (see its module docstring for the
# determinism contract).
from .operators.elevation import (dem_plane_sql as _dem_sql,  # noqa: E402
                                  hillshade_consts as _hs_consts,
                                  slope_class_thresholds as _slope_thr2)
from .geo.transverse_mercator import dlit as _dlit  # noqa: E402


def _dem_at(dx: int, dy: int) -> str:
    xs = f"(x + {dx})" if dx else "x"
    ys = f"(y + {dy})" if dy else "y"
    return "(" + _dem_sql(synth.pixel_value_sql("id", xs, ys, "fmt"),
                          xs, ys) + ")"


# Horn gradients: GX = weighted right column - left column,
# GY = weighted bottom row - top row (exact integers).
_EGX = (f"(({_dem_at(1, -1)} + 2 * {_dem_at(1, 0)} + {_dem_at(1, 1)}) - "
        f"({_dem_at(-1, -1)} + 2 * {_dem_at(-1, 0)} + {_dem_at(-1, 1)}))")
_EGY = (f"(({_dem_at(-1, 1)} + 2 * {_dem_at(0, 1)} + {_dem_at(1, 1)}) - "
        f"({_dem_at(-1, -1)} + 2 * {_dem_at(0, -1)} + {_dem_at(1, -1)}))")

_EG_CTE = """
exs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(1, w - 2)) AS x
        FROM img WHERE id % 19 = 0),
epxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM exs),
eg AS (SELECT image_id, {gx} AS gx, {gy} AS gy FROM epxy)
""".strip().format(gx=_EGX, gy=_EGY)

_SLOPE_T = _slope_thr2((5.0, 15.0, 30.0), 30.0)

ORACLES["dem_slope"] = f"""
{_PREFIX},
{_EG_CTE},
ecls AS (SELECT image_id, gx * gx + gy * gy AS g2,
                CAST((CASE WHEN gx * gx + gy * gy >= {_dlit(_SLOPE_T[0])}
                           THEN 1 ELSE 0 END)
                   + (CASE WHEN gx * gx + gy * gy >= {_dlit(_SLOPE_T[1])}
                           THEN 1 ELSE 0 END)
                   + (CASE WHEN gx * gx + gy * gy >= {_dlit(_SLOPE_T[2])}
                           THEN 1 ELSE 0 END) AS BIGINT) AS slope_cls
         FROM eg),
eagg AS (SELECT image_id, slope_cls, count(*) AS n_pix,
                sum(g2) AS sum_g2
         FROM ecls GROUP BY image_id, slope_cls),
eall AS (SELECT image_id, unnest([0, 1, 2, 3]) AS slope_cls
         FROM img WHERE id % 19 = 0)
SELECT a.image_id, CAST(a.slope_cls AS BIGINT) AS slope_cls,
       CAST(coalesce(g.n_pix, 0) AS BIGINT) AS n_pix,
       CAST(coalesce(g.sum_g2, 0) AS BIGINT) AS sum_g2
FROM eall a LEFT JOIN eagg g
  ON g.image_id = a.image_id AND g.slope_cls = a.slope_cls
"""

# compass recode on Y = -GX, X = GY: sign tests + |Y| vs |X| integer
# comparisons only (operators/elevation.aspect_categories octant table)
_ASPECT_CASE = """
CASE WHEN X = 0 AND Y = 0 THEN 0
     WHEN Y >= 0 AND X > Y THEN 1
     WHEN Y > 0 AND X > 0 AND X <= Y THEN 2
     WHEN Y > 0 AND X <= 0 AND Y > -X THEN 3
     WHEN Y > 0 AND X < 0 AND Y <= -X THEN 4
     WHEN (Y = 0 AND X < 0) OR (Y < 0 AND X < 0 AND Y > X) THEN 5
     WHEN Y < 0 AND X < 0 AND Y <= X THEN 6
     WHEN Y < 0 AND X >= 0 AND -Y > X THEN 7
     ELSE 8 END
""".strip()

ORACLES["dem_aspect"] = f"""
{_PREFIX},
{_EG_CTE},
eyx AS (SELECT image_id, -gx AS Y, gy AS X FROM eg),
ecat AS (SELECT image_id, CAST({_ASPECT_CASE} AS BIGINT) AS aspect_cat
         FROM eyx),
eagg AS (SELECT image_id, aspect_cat, count(*) AS n_pix
         FROM ecat GROUP BY image_id, aspect_cat),
eall AS (SELECT image_id,
                unnest([0, 1, 2, 3, 4, 5, 6, 7, 8]) AS aspect_cat
         FROM img WHERE id % 19 = 0)
SELECT a.image_id, CAST(a.aspect_cat AS BIGINT) AS aspect_cat,
       CAST(coalesce(g.n_pix, 0) AS BIGINT) AS n_pix
FROM eall a LEFT JOIN eagg g
  ON g.image_id = a.image_id AND g.aspect_cat = a.aspect_cat
"""

_HS_SZ, _HS_CZ, _HS_K1, _HS_K2 = _hs_consts(315.0, 45.0)
_HS_R8 = _dlit(8.0 * 30.0)

ORACLES["dem_hillshade"] = f"""
{_PREFIX},
{_EG_CTE},
hsd AS (SELECT image_id,
               CAST(gx AS DOUBLE) / {_HS_R8} AS dx,
               CAST(-gy AS DOUBLE) / {_HS_R8} AS dy
        FROM eg),
hsc AS (SELECT image_id,
               ({_dlit(_HS_SZ)} - {_dlit(_HS_CZ)}
                 * (dy * {_dlit(_HS_K1)} - dx * {_dlit(_HS_K2)}))
               / sqrt({_dlit(1.0)} + (dx * dx + dy * dy)) AS cang
        FROM hsd),
hsq AS (SELECT image_id, CASE WHEN cang <= {_dlit(0.0)} THEN 1 ELSE 0
                         END AS dark,
               CAST(floor((CASE WHEN cang <= {_dlit(0.0)}
                                THEN {_dlit(1.0)}
                                ELSE {_dlit(1.0)} + {_dlit(254.0)} * cang
                           END) * {_dlit(1048576.0)}) AS BIGINT) AS q
        FROM hsc),
hagg AS (SELECT image_id, count(*) AS n_pix, sum(dark) AS n_dark,
                sum(q) AS sum_q, min(q) AS min_q, max(q) AS max_q
         FROM hsq GROUP BY image_id)
SELECT i.image_id,
       CAST(coalesce(h.n_pix, 0) AS BIGINT) AS n_pix,
       CAST(coalesce(h.n_dark, 0) AS BIGINT) AS n_dark,
       CAST(coalesce(h.sum_q, 0) AS BIGINT) AS sum_shade_q,
       CAST(coalesce(h.min_q, 0) AS BIGINT) AS min_shade_q,
       CAST(coalesce(h.max_q, 0) AS BIGINT) AS max_shade_q
FROM (SELECT image_id FROM img WHERE id % 19 = 0) i
LEFT JOIN hagg h ON h.image_id = i.image_id
"""


# ------------------------------------------------------------- calibration
# DN -> radiance -> TOA reflectance (operators/calibration.py; see its
# module docstring for the reference file:line cites and the pinned
# IEEE tree mirrored here).
from .operators.calibration import (DEFAULT_CAL as _CAL,  # noqa: E402
                                    toa_consts as _toa_consts)


def _toa_band_select(band: int) -> str:
    g, o, esun = _CAL[band - 1]
    PI, DSQ, ED, SC = _toa_consts(esun, 35.0, 196, 1000.0)
    dn = "v1" if band == 1 else "v2"
    L = (f"CASE WHEN v1 = 0 AND v2 = 0 THEN {_dlit(0.0)} "
         f"ELSE {_dlit(g)} * CAST({dn} AS DOUBLE) + {_dlit(o)} END")
    rho = f"((({_dlit(PI)} * ({L}) * {_dlit(DSQ)}) / {_dlit(ED)}) * {_dlit(SC)})"
    return f"""
SELECT image_id, CAST({band} AS BIGINT) AS band,
       CASE WHEN v1 = 0 AND v2 = 0 THEN 1 ELSE 0 END AS border,
       CAST(floor({rho} * {_dlit(1048576.0)}) AS BIGINT) AS q
FROM tpx
""".strip()


_TOA_V2 = synth.pixel_value_sql("id", "(w - 1 - x)", "y", "fmt")

ORACLES["toa_radiance"] = f"""
{_PREFIX},
txs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
tpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM txs),
tpx AS (SELECT image_id, {_PXV} AS v1, {_TOA_V2} AS v2 FROM tpxy),
tb AS ({_toa_band_select(1)}
       UNION ALL
       {_toa_band_select(2)})
SELECT image_id, band, count(*) AS n_pix,
       CAST(sum(border) AS BIGINT) AS n_border,
       CAST(sum(q) AS BIGINT) AS sum_rho_q,
       CAST(min(q) AS BIGINT) AS min_rho_q,
       CAST(max(q) AS BIGINT) AS max_rho_q
FROM tb GROUP BY image_id, band
"""


from .operators.calibration import DEFAULT_6S as _S6  # noqa: E402


def _s6_band_select(band: int) -> str:
    A, B, C = _S6[band - 1]
    SC = _dlit(1000.0)
    dn = "v1" if band == 1 else "v2"
    y = f"({_dlit(A)} * CAST({dn} AS DOUBLE) - {_dlit(B)})"
    t = f"(({y} / ({_dlit(1.0)} + {_dlit(C)} * {y})) * {SC})"
    res = (f"CASE WHEN v1 = 0 AND v2 = 0 THEN {_dlit(0.0)} "
           f"WHEN {t} < {_dlit(1.0)} THEN {_dlit(1.0)} "
           f"WHEN {t} + {_dlit(1.0)} > {SC} THEN {SC} "
           f"ELSE {t} + {_dlit(1.0)} END")
    return f"""
SELECT image_id, CAST({band} AS BIGINT) AS band,
       CASE WHEN NOT (v1 = 0 AND v2 = 0) AND {t} < {_dlit(1.0)}
            THEN 1 ELSE 0 END AS lo,
       CASE WHEN NOT (v1 = 0 AND v2 = 0) AND NOT ({t} < {_dlit(1.0)})
                 AND {t} + {_dlit(1.0)} > {SC}
            THEN 1 ELSE 0 END AS clamp,
       CAST(floor(({res}) * {_dlit(1048576.0)}) AS BIGINT) AS q
FROM tpx
""".strip()


ORACLES["sref_6s"] = f"""
{_PREFIX},
txs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
tpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM txs),
tpx AS (SELECT image_id, {_PXV} AS v1, {_TOA_V2} AS v2 FROM tpxy),
sb AS ({_s6_band_select(1)}
       UNION ALL
       {_s6_band_select(2)})
SELECT image_id, band, count(*) AS n_pix,
       CAST(sum(lo) AS BIGINT) AS n_lo,
       CAST(sum(clamp) AS BIGINT) AS n_clamp,
       CAST(sum(q) AS BIGINT) AS sum_sref_q,
       CAST(min(q) AS BIGINT) AS min_sref_q,
       CAST(max(q) AS BIGINT) AS max_sref_q
FROM sb GROUP BY image_id, band
"""

# dark-object subtraction: offset = min valid DN per (image, band),
# nonNegative <=0 -> 1 rule, nodata (0) pass-through — pure integers
ORACLES["dos_subtract"] = f"""
{_PREFIX},
txs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
tpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM txs),
tpx AS (SELECT image_id, {_PXV} AS v1, {_TOA_V2} AS v2 FROM tpxy),
db AS (SELECT image_id, 1 AS band, v1 AS dn FROM tpx
       UNION ALL
       SELECT image_id, 2 AS band, v2 AS dn FROM tpx),
doff AS (SELECT image_id, band,
                coalesce(min(CASE WHEN dn <> 0 THEN dn END), 0) AS off
         FROM db GROUP BY image_id, band),
dres AS (SELECT d.image_id, d.band,
                CASE WHEN d.dn = 0 THEN 0
                     WHEN d.dn - o.off <= 0 THEN 1
                     ELSE d.dn - o.off END AS res,
                CASE WHEN d.dn = 0 THEN 1 ELSE 0 END AS nd,
                o.off
         FROM db d JOIN doff o
           ON o.image_id = d.image_id AND o.band = d.band)
SELECT image_id, CAST(band AS BIGINT) AS band, count(*) AS n_pix,
       CAST(sum(nd) AS BIGINT) AS n_nodata,
       CAST(min(off) AS BIGINT) AS dark_off,
       CAST(sum(res) AS BIGINT) AS sum_out,
       CAST(min(res) AS BIGINT) AS min_out,
       CAST(max(res) AS BIGINT) AS max_out
FROM dres GROUP BY image_id, band
"""


# ----------------------------------------------- classification / regression
# classaccuracymetrics.calc_class_accuracy_metrics + regression.
# get_regression_stats twins (operators/classification.py docstring has
# the exact-integer-ratio determinism contract; 2^20 quantizer, -1
# undefined sentinel).  ref class = (v*4)//pmax; pred class from the
# clamped v + e plane with e = ((x*7 + y*3 + id) % 21) - 10.
_CA_E = "((x * 7 + y * 3 + id) % 21 - 10)"
_CA_PM = synth.pmax_sql("fmt")

ORACLES["class_accuracy"] = f"""
{_PREFIX},
cxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
cpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM cxs),
cvp AS (SELECT image_id,
               ({_PXV} * 4) // {_CA_PM} AS rc,
               (least(greatest({_PXV} + {_CA_E}, 0), {_CA_PM} - 1) * 4)
                 // {_CA_PM} AS pc
        FROM cpxy),
ccm AS MATERIALIZED (SELECT image_id, rc, pc, count(*) AS n
                     FROM cvp GROUP BY image_id, rc, pc),
cimg AS MATERIALIZED (
  SELECT image_id, CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(CASE WHEN rc = pc THEN n ELSE 0 END) AS BIGINT) AS diag
  FROM ccm GROUP BY image_id),
ccls AS (SELECT image_id, unnest([0, 1, 2, 3]) AS cls
         FROM (SELECT DISTINCT image_id FROM ccm)),
cper AS MATERIALIZED (
  SELECT c.image_id, c.cls,
         CAST(coalesce(sum(CASE WHEN m.rc = c.cls THEN m.n END), 0)
              AS BIGINT) AS n_ref,
         CAST(coalesce(sum(CASE WHEN m.pc = c.cls THEN m.n END), 0)
              AS BIGINT) AS n_pred,
         CAST(coalesce(sum(CASE WHEN m.rc = c.cls AND m.pc = c.cls
                           THEN m.n END), 0) AS BIGINT) AS tp
  FROM ccls c LEFT JOIN ccm m ON m.image_id = c.image_id
  GROUP BY c.image_id, c.cls),
cpe AS MATERIALIZED (
  SELECT image_id, CAST(sum(n_ref * n_pred) AS BIGINT) AS pe_num,
         CAST(sum(tp) AS BIGINT) AS tpsum
  FROM cper GROUP BY image_id)
SELECT p.image_id, CAST(p.cls AS BIGINT) AS cls, p.n_ref, p.n_pred, p.tp,
  CAST(CASE WHEN p.n_pred = 0 THEN -1 ELSE floor(
    (CAST(p.tp AS DOUBLE) / CAST(p.n_pred AS DOUBLE)) * 1048576.0)
    END AS BIGINT) AS prec_q,
  CAST(CASE WHEN p.n_ref = 0 THEN -1 ELSE floor(
    (CAST(p.tp AS DOUBLE) / CAST(p.n_ref AS DOUBLE)) * 1048576.0)
    END AS BIGINT) AS rec_q,
  CAST(CASE WHEN p.n_ref + p.n_pred = 0 THEN -1 ELSE floor(
    (CAST(2 * p.tp AS DOUBLE) / CAST(p.n_ref + p.n_pred AS DOUBLE))
    * 1048576.0) END AS BIGINT) AS f1_q,
  CAST(CASE WHEN i.nn = 0 THEN -1 ELSE floor(
    (CAST(i.diag AS DOUBLE) / CAST(i.nn AS DOUBLE)) * 1048576.0)
    END AS BIGINT) AS oa_q,
  CAST(CASE WHEN i.nn * i.nn - e.pe_num = 0 THEN -1 ELSE floor(
    (CAST(i.nn * i.diag - e.pe_num AS DOUBLE)
     / CAST(i.nn * i.nn - e.pe_num AS DOUBLE)) * 1048576.0)
    END AS BIGINT) AS kappa_q
FROM cper p
JOIN cimg i ON i.image_id = p.image_id
JOIN cpe e ON e.image_id = p.image_id
"""

ORACLES["regress_stats"] = f"""
{_PREFIX},
rxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
rpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM rxs),
rv AS (SELECT image_id, {_PXV} AS r, {_CA_E} AS e FROM rpxy),
ragg AS MATERIALIZED (
  SELECT image_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(e) AS BIGINT) AS sd,
         CAST(sum(abs(e)) AS BIGINT) AS sad,
         CAST(sum(e * e) AS BIGINT) AS sd2,
         CAST(sum(r) AS BIGINT) AS sr,
         CAST(sum(r * r) AS BIGINT) AS sr2,
         quantile_cont(abs(e), 0.5) AS med
  FROM rv GROUP BY image_id)
SELECT image_id, n AS n_pix, sd AS sum_d, sad AS sum_absd, sd2 AS sum_d2,
  CAST(floor((CAST((n * sr2 - sr * sr) - n * sd2 AS DOUBLE)
              / CAST(n * sr2 - sr * sr AS DOUBLE)) * 1048576.0)
       AS BIGINT) AS r2_q,
  CAST(floor((CAST((n * sr2 - sr * sr) - (n * sd2 - sd * sd) AS DOUBLE)
              / CAST(n * sr2 - sr * sr AS DOUBLE)) * 1048576.0)
       AS BIGINT) AS ev_q,
  CAST(floor((CAST(sad AS DOUBLE) / CAST(n AS DOUBLE)) * 1048576.0)
       AS BIGINT) AS mae_q,
  CAST(floor(med * 1048576.0) AS BIGINT) AS medae_q,
  CAST(floor((CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE)) * 1048576.0)
       AS BIGINT) AS mse_q,
  CAST(floor(sqrt(CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE)) * 1048576.0)
       AS BIGINT) AS rmse_q,
  CAST(CASE WHEN sr = 0 THEN -1 ELSE floor(
    ((sqrt(CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE))
      * CAST(n * 100 AS DOUBLE)) / CAST(sr AS DOUBLE)) * 1048576.0)
    END AS BIGINT) AS nrmse_q,
  CAST(floor((CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) * 1048576.0)
       AS BIGINT) AS bias_q,
  CAST(CASE WHEN sr = 0 THEN -1 ELSE floor(
    (CAST(100 * sd AS DOUBLE) / CAST(sr AS DOUBLE)) * 1048576.0)
    END AS BIGINT) AS nbias_q,
  CAST(floor((CAST(n * sd2 - sd * sd AS DOUBLE)
              / CAST(n * n AS DOUBLE)) * 1048576.0) AS BIGINT) AS var_q
FROM ragg
"""


# ------------------------------------------------ Mahalanobis window filters
# imagecalc.mahalanobis_dist_filter / mahalanobis_dist_to_img_filter
# twins (operators/windowdist.py docstring has the determinism
# contract: exact-integer ratio -> one division -> one sqrt; pinned
# row-major addition chains; 2^20 per-pixel quantization before the
# per-image integer aggregation).
from .operators.windowdist import (NEIGH_OFFSETS as _MH_N,  # noqa: E402
                                   WIN_OFFSETS as _MH_W)


def _mh_pxv(dx: int, dy: int) -> str:
    xs = f"(x + {dx})" if dx else "x"
    ys = f"(y + {dy})" if dy else "y"
    return "(" + synth.pixel_value_sql("id", xs, ys, "fmt") + ")"


def _mh_interior(prefix: str) -> str:
    return f"""
{prefix}xs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(1, w - 2)) AS x
        FROM img WHERE id % 19 = 0),
{prefix}pxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y
                FROM {prefix}xs)""".strip()


_MH_D = ", ".join(
    f"({_mh_pxv(dx, dy)} - {_mh_pxv(0, 0)}) AS d{k}"
    for k, (dy, dx) in enumerate(_MH_N, start=1))
_MH_SD2 = " + ".join(f"d{k} * d{k}" for k in range(1, 9))
_MH_NZ = " + ".join(f"(CASE WHEN d{k} = 0 THEN 1 ELSE 0 END)"
                    for k in range(1, 9))
_MH_S = ", ".join(
    f"sqrt(CAST(d{k} * d{k} AS DOUBLE) / cov) AS s{k}"
    for k in range(1, 9))
_MH_SUM8 = " + ".join(f"s{k}" for k in range(1, 9))
_MH_LIST8 = ", ".join(f"s{k}" for k in range(1, 9))

ORACLES["mahal_window"] = f"""
{_PREFIX},
{_mh_interior('mw')},
mwd AS (SELECT image_id, {_MH_D} FROM mwpxy),
mwc AS (SELECT image_id,
               CAST({_MH_SD2} AS DOUBLE)
                 + CAST({_MH_NZ} AS DOUBLE) * (CAST(1 AS DOUBLE)
                                               / CAST(1000 AS DOUBLE)) AS cov,
               {", ".join(f"d{k}" for k in range(1, 9))}
        FROM mwd),
mws AS (SELECT image_id, {_MH_S} FROM mwc),
mwq AS (SELECT image_id,
          CAST(floor((({_MH_SUM8}) / CAST(8 AS DOUBLE)) * 1048576.0)
               AS BIGINT) AS q_mean,
          CAST(floor(((list_sort([{_MH_LIST8}])[4]
                       + list_sort([{_MH_LIST8}])[5]) * CAST(0.5 AS DOUBLE))
                     * 1048576.0) AS BIGINT) AS q_med,
          CAST(floor(least({_MH_LIST8}) * 1048576.0) AS BIGINT) AS q_min,
          CAST(floor(greatest({_MH_LIST8}) * 1048576.0) AS BIGINT) AS q_max
        FROM mws)
SELECT image_id, count(*) AS n_win,
       CAST(sum(q_mean) AS BIGINT) AS sum_mean_q,
       CAST(sum(q_med) AS BIGINT) AS sum_med_q,
       CAST(min(q_min) AS BIGINT) AS min_q,
       CAST(max(q_max) AS BIGINT) AS max_q
FROM mwq GROUP BY image_id
"""

_MG_U = ", ".join(
    "(CASE WHEN g.den = 0 THEN CAST(0 AS DOUBLE) ELSE "
    f"sqrt(CAST(({_mh_pxv(dx, dy)} * g.n - g.s) "
    f"* ({_mh_pxv(dx, dy)} * g.n - g.s) AS DOUBLE) "
    f"/ CAST(g.den AS DOUBLE)) END) AS u{k}"
    for k, (dy, dx) in enumerate(_MH_W, start=1))
_MG_SUM9 = " + ".join(f"u{k}" for k in range(1, 10))
_MG_LIST9 = ", ".join(f"u{k}" for k in range(1, 10))

ORACLES["mahal_global"] = f"""
{_PREFIX},
ggxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
ggpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM ggxs),
ggstat AS MATERIALIZED (
  SELECT image_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_PXV}) AS BIGINT) AS s,
         CAST(count(*) * sum({_PXV} * {_PXV})
              * count(*) - count(*) * sum({_PXV}) * sum({_PXV})
              AS BIGINT) AS den
  FROM ggpxy GROUP BY image_id),
{_mh_interior('mg')},
mgu AS (SELECT p.image_id, {_MG_U}
        FROM mgpxy p JOIN ggstat g ON g.image_id = p.image_id),
mgq AS (SELECT image_id,
          CAST(floor((({_MG_SUM9}) / CAST(9 AS DOUBLE)) * 1048576.0)
               AS BIGINT) AS q_mean,
          CAST(floor(list_sort([{_MG_LIST9}])[5] * 1048576.0)
               AS BIGINT) AS q_med,
          CAST(floor(least({_MG_LIST9}) * 1048576.0) AS BIGINT) AS q_min,
          CAST(floor(greatest({_MG_LIST9}) * 1048576.0) AS BIGINT) AS q_max
        FROM mgu)
SELECT image_id, count(*) AS n_win,
       CAST(sum(q_mean) AS BIGINT) AS sum_mean_q,
       CAST(sum(q_med) AS BIGINT) AS sum_med_q,
       CAST(min(q_min) AS BIGINT) AS min_q,
       CAST(max(q_max) AS BIGINT) AS max_q
FROM mgq GROUP BY image_id
"""


# ------------------------------------------------- imagecalc misc operators
# Twins of operators/imgcalcmisc.py (module docstring has the reference
# citations and the exact-int/one-division determinism contract).
# Mirror band: v(w-1-x, y), the repo's imagemath band-2 convention.
_IC_MIR = synth.pixel_value_sql("id", "(w - 1 - x)", "y", "fmt")

_IC_PLANE = f"""
icxs AS (SELECT image_id, id, w, h, fmt, lon, lat,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
icpxy AS MATERIALIZED (
  SELECT image_id, id, w, fmt, lon, lat, x,
         unnest(generate_series(0, h - 1)) AS y,
         {_PXV} AS v, {_IC_MIR} AS mv
  FROM icxs)
""".strip()

ORACLES["prop_true"] = f"""
{_PREFIX},
{_IC_PLANE}
SELECT image_id, count(*) AS n_pix,
       CAST(sum(CASE WHEN v > mv THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(floor((CAST(sum(CASE WHEN v > mv THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE)) * 1048576.0)
            AS BIGINT) AS prop_q
FROM icpxy GROUP BY image_id
"""

ORACLES["band_rmse"] = f"""
{_PREFIX},
{_IC_PLANE}
SELECT image_id, count(*) AS n_pix,
       CAST(sum((v - mv) * (v - mv)) AS BIGINT) AS sum_d2,
       CAST(floor(sqrt(CAST(sum((v - mv) * (v - mv)) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE)) * 1048576.0)
            AS BIGINT) AS rmse_q
FROM icpxy GROUP BY image_id
"""

ORACLES["img_rescale"] = f"""
{_PREFIX},
{_IC_PLANE},
rsq AS (SELECT image_id,
               CASE WHEN v = 0 THEN 1 ELSE 0 END AS nod,
               CAST(floor((CASE WHEN v = 0 THEN CAST(-1 AS DOUBLE)
                    ELSE ((CAST(v AS DOUBLE) - CAST(1 AS DOUBLE))
                          / CAST(2 AS DOUBLE)) * CAST(8 AS DOUBLE)
                         + CAST(100 AS DOUBLE) END) * 1048576.0)
                    AS BIGINT) AS q
        FROM icpxy)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(nod) AS BIGINT) AS n_nodata,
       CAST(sum(q) AS BIGINT) AS sum_out_q,
       CAST(min(q) AS BIGINT) AS min_out_q,
       CAST(max(q) AS BIGINT) AS max_out_q
FROM rsq GROUP BY image_id
"""

ORACLES["mean_in_mask"] = f"""
{_PREFIX},
{_IC_PLANE},
mim AS (SELECT image_id,
               CAST(coalesce(sum(CASE WHEN mv // 64 = 3 AND v <> 0
                                      THEN 1 END), 0) AS BIGINT) AS n_msk,
               CAST(coalesce(sum(CASE WHEN mv // 64 = 3 AND v <> 0
                                      THEN v END), 0) AS BIGINT) AS sum_v
        FROM icpxy GROUP BY image_id)
SELECT image_id, n_msk, sum_v,
       CAST(CASE WHEN n_msk = 0 THEN -1 ELSE floor(
         (CAST(sum_v AS DOUBLE) / CAST(n_msk AS DOUBLE)) * 1048576.0)
         END AS BIGINT) AS mean_q
FROM mim
"""

ORACLES["all_bands_equal"] = f"""
{_PREFIX},
{_IC_PLANE}
SELECT image_id, count(*) AS n_pix,
       CAST(sum(CASE WHEN v = 100 AND mv = 100 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN v = 100 AND mv = 100 THEN 255 ELSE 1 END)
            AS BIGINT) AS sum_out
FROM icpxy GROUP BY image_id
"""

# envelope: pixel-centre predicate, identical tree in both engines
_ENV_SEL = ("lon + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {r} "
            ">= CAST(-180 AS DOUBLE) AND "
            "lon + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {r} "
            "<= CAST(11 AS DOUBLE) AND "
            "lat - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {r} "
            ">= CAST(-60 AS DOUBLE) AND "
            "lat - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {r} "
            "<= CAST(45.0009 AS DOUBLE)").format(r=_RD)

ORACLES["stats_in_env"] = f"""
{_PREFIX},
{_IC_PLANE},
envp AS MATERIALIZED (SELECT image_id, v FROM icpxy WHERE {_ENV_SEL}),
enva AS (SELECT image_id, CAST(count(*) AS BIGINT) AS n,
                CAST(min(v) AS BIGINT) AS mnv,
                CAST(max(v) AS BIGINT) AS mxv,
                CAST(sum(v) AS BIGINT) AS s,
                CAST(sum(v * v) AS BIGINT) AS s2
         FROM envp GROUP BY image_id),
envm AS (SELECT image_id, v AS mode_v FROM (
           SELECT image_id, v, row_number() OVER (
             PARTITION BY image_id
             ORDER BY count(*) DESC, v ASC) AS rn
           FROM envp GROUP BY image_id, v)
         WHERE rn = 1),
envi AS (SELECT DISTINCT image_id FROM icpxy)
SELECT i.image_id,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_env,
       CAST(coalesce(a.mnv, -1) AS BIGINT) AS min_v,
       CAST(coalesce(a.mxv, -1) AS BIGINT) AS max_v,
       CAST(coalesce(a.s, -1) AS BIGINT) AS sum_v,
       CAST(coalesce(m.mode_v, -1) AS BIGINT) AS mode_v,
       CAST(CASE WHEN a.n IS NULL THEN -1 ELSE floor(
         (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)) * 1048576.0)
         END AS BIGINT) AS mean_q,
       CAST(CASE WHEN a.n IS NULL THEN -1 ELSE floor(
         sqrt(CAST(a.n * a.s2 - a.s * a.s AS DOUBLE)
              / CAST(a.n * a.n AS DOUBLE)) * 1048576.0)
         END AS BIGINT) AS std_q
FROM envi i
LEFT JOIN enva a ON a.image_id = i.image_id
LEFT JOIN envm m ON m.image_id = i.image_id
"""

ORACLES["column_summary"] = f"""
{_PREFIX},
{_IC_PLANE}
SELECT image_id, count(*) AS n_pix,
       CAST(sum(least(v, mv)) AS BIGINT) AS sum_min,
       CAST(sum(greatest(v, mv)) AS BIGINT) AS sum_max,
       CAST(sum(v + mv) AS BIGINT) AS sum_sum,
       CAST(sum(CAST(floor((CAST(v + mv AS DOUBLE) / CAST(2 AS DOUBLE))
                           * 1048576.0) AS BIGINT)) AS BIGINT)
         AS sum_mean_q,
       CAST(sum(CAST(floor((CAST(abs(v - mv) AS DOUBLE)
                            / CAST(2 AS DOUBLE)) * 1048576.0) AS BIGINT))
            AS BIGINT) AS sum_std_q
FROM icpxy GROUP BY image_id
"""


# --------------------------- sampling / unmixing / DEM-shadow / saturation
# Twins of classification.strat_sample, specunmix.exh_unmix_stats /
# avg_endmember_stats, elevation.shadow_mask_stats / detrend_stats,
# calibration.saturated_stats, imgcalcmisc.norm_pxl_stats (operator
# docstrings carry the reference citations + determinism contracts).
from .operators.elevation import shadow_tan_q as _shadow_tq  # noqa: E402
from .operators.specunmix import (EM_SPECTRA as _EM,  # noqa: E402
                                  UNMIX_STEPS as _US)

_IC_PM = synth.pmax_sql("fmt")

ORACLES["strat_sample"] = f"""
{_PREFIX},
{_IC_PLANE},
ssr AS (SELECT image_id, (v * 4) // {_IC_PM} AS cls, x, y, v,
               (id * 2654435761 + x * 40503 + y * 69061)
                 % 2147483647 AS hsh
        FROM icpxy),
ssk AS (SELECT image_id, cls, x, y, v,
               row_number() OVER (PARTITION BY image_id, cls
                                  ORDER BY hsh, x, y) AS rank
        FROM ssr)
SELECT image_id, CAST(cls AS BIGINT) AS cls, CAST(rank AS BIGINT) AS rank,
       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, CAST(v AS BIGINT) AS v
FROM ssk WHERE rank <= 3
"""

_EX_COMBOS = ", ".join(f"({a1}, {a2})"
                       for a1 in range(_US + 1)
                       for a2 in range(_US + 1) if a1 + a2 <= _US)

ORACLES["exh_unmix"] = f"""
{_PREFIX},
{_IC_PLANE},
exg (a1, a2) AS (VALUES {_EX_COMBOS}),
exd AS (SELECT p.image_id, p.x, p.y,
               min((({_US} * p.v - g.a1 * {_EM[0][0]} - g.a2 * {_EM[1][0]})
                    * ({_US} * p.v - g.a1 * {_EM[0][0]} - g.a2 * {_EM[1][0]})
                  + ({_US} * p.mv - g.a1 * {_EM[0][1]} - g.a2 * {_EM[1][1]})
                    * ({_US} * p.mv - g.a1 * {_EM[0][1]} - g.a2 * {_EM[1][1]}))
                   * 1024 + g.a1 * 32 + g.a2) AS key
        FROM icpxy p CROSS JOIN exg g
        GROUP BY p.image_id, p.x, p.y)
SELECT image_id, count(*) AS n_pix,
       CAST(sum((key // 32) % 32) AS BIGINT) AS sum_a1,
       CAST(sum(key % 32) AS BIGINT) AS sum_a2,
       CAST(sum(key // 1024) AS BIGINT) AS sum_sse,
       CAST(sum(CASE WHEN (key // 32) % 32 + key % 32 = {_US}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_full
FROM exd GROUP BY image_id
"""

ORACLES["avg_endmembers"] = f"""
{_PREFIX},
{_IC_PLANE},
aec AS (SELECT i.image_id, c.cls FROM (SELECT DISTINCT image_id
                                       FROM icpxy) i
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS cls) c),
aea AS (SELECT image_id, (v * 4) // {_IC_PM} AS cls,
               count(*) AS n, CAST(sum(v) AS BIGINT) AS sb1,
               CAST(sum(mv) AS BIGINT) AS sb2
        FROM icpxy GROUP BY image_id, (v * 4) // {_IC_PM})
SELECT c.image_id, CAST(c.cls AS BIGINT) AS cls,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_pix,
       CAST(coalesce(a.sb1, 0) AS BIGINT) AS sum_b1,
       CAST(coalesce(a.sb2, 0) AS BIGINT) AS sum_b2,
       CAST(CASE WHEN a.n IS NULL THEN -1 ELSE floor(
         (CAST(a.sb1 AS DOUBLE) / CAST(a.n AS DOUBLE)) * 1048576.0)
         END AS BIGINT) AS mean_b1_q,
       CAST(CASE WHEN a.n IS NULL THEN -1 ELSE floor(
         (CAST(a.sb2 AS DOUBLE) / CAST(a.n AS DOUBLE)) * 1048576.0)
         END AS BIGINT) AS mean_b2_q
FROM aec c LEFT JOIN aea a
  ON a.image_id = c.image_id AND a.cls = c.cls
"""

# detrend: 3x3 plane-fit residual = exact (9*center - sum9)/9
_DT_S9 = " + ".join(_dem_at(dx, dy)
                    for dy in (-1, 0, 1) for dx in (-1, 0, 1))

ORACLES["dem_detrend"] = f"""
{_PREFIX},
dtx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(1, w - 2)) AS x
        FROM img WHERE id % 19 = 0),
dtp AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM dtx),
dtq AS (SELECT image_id,
          CAST(floor((CAST(9 * {_dem_at(0, 0)} - ({_DT_S9}) AS DOUBLE)
                      / CAST(9 AS DOUBLE)) * 1048576.0) AS BIGINT) AS q
        FROM dtp)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(q) AS BIGINT) AS sum_res_q,
       CAST(min(q) AS BIGINT) AS min_res_q,
       CAST(max(q) AS BIGINT) AS max_res_q
FROM dtq GROUP BY image_id
"""

_SH_T = _shadow_tq(10.0, 30.0)

ORACLES["shadow_mask"] = f"""
{_PREFIX},
shx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
shp AS (SELECT image_id, w, x,
               unnest(generate_series(0, h - 1)) AS y,
               ({_dem_sql(synth.pixel_value_sql("id", "x", "y", "fmt"),
                          "x", "y")}) * 1048576 + {_SH_T} * x AS key
        FROM shx),
shm AS (SELECT image_id, w, x, y, key,
               max(key) OVER (PARTITION BY image_id, y
                              ORDER BY x
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prevmax
        FROM shp)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(CASE WHEN prevmax > key THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shadow,
       CAST(coalesce(sum(CASE WHEN prevmax > key
                          THEN y * w + x END), 0) AS BIGINT) AS shadow_ck
FROM shm GROUP BY image_id
"""

ORACLES["saturated_mask"] = f"""
{_PREFIX},
{_IC_PLANE},
stb AS (SELECT image_id, 1 AS band,
               CAST(sum(CASE WHEN v = {_IC_PM} - 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sat,
               CAST(coalesce(sum(CASE WHEN v = {_IC_PM} - 1
                                 THEN y * w + x END), 0) AS BIGINT) AS ck,
               count(*) AS n
        FROM icpxy GROUP BY image_id
        UNION ALL
        SELECT image_id, 2 AS band,
               CAST(sum(CASE WHEN mv = {_IC_PM} - 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sat,
               CAST(coalesce(sum(CASE WHEN mv = {_IC_PM} - 1
                                 THEN y * w + x END), 0) AS BIGINT) AS ck,
               count(*) AS n
        FROM icpxy GROUP BY image_id)
SELECT image_id, CAST(band AS BIGINT) AS band, CAST(n AS BIGINT) AS n_pix,
       n_sat, ck AS sat_ck
FROM stb
"""

ORACLES["norm_pxl_vals"] = f"""
{_PREFIX},
{_IC_PLANE},
nmx AS MATERIALIZED (SELECT image_id, CAST(min(v) AS BIGINT) AS mn,
                            CAST(max(v) AS BIGINT) AS mx,
                            count(*) AS n
                     FROM icpxy GROUP BY image_id),
nmq AS (SELECT p.image_id, m.n, m.mn, m.mx,
               CASE WHEN m.mx = m.mn THEN NULL ELSE
                 CAST(floor((CAST(p.v - m.mn AS DOUBLE)
                             / CAST(m.mx - m.mn AS DOUBLE)) * 1048576.0)
                      AS BIGINT) END AS q
        FROM icpxy p JOIN nmx m ON m.image_id = p.image_id)
SELECT image_id, CAST(max(n) AS BIGINT) AS n_pix,
       CAST(max(mn) AS BIGINT) AS v_min,
       CAST(max(mx) AS BIGINT) AS v_max,
       CAST(coalesce(sum(q), -1) AS BIGINT) AS sum_norm_q
FROM nmq GROUP BY image_id
"""


# ------------------------------------------------ deterministic-ln consumers
# thermal brightness / Bhattacharyya / Yen threshold — twins of
# calibration.thermal_brightness_stats and operators/histmetrics.py.
# All logs go through the pinned cross-engine tree
# (functions/detmath.ln_steps; module docstring has the proof sketch).
from .functions.detmath import (LN2 as _LN2V,  # noqa: E402
                                ln_chain_sql as _lnc)
from .operators.calibration import (THERM_K1 as _TK1,  # noqa: E402
                                    THERM_K2 as _TK2)

_TH_INNER = f"""
SELECT image_id, band,
       {_dlit(_TK1)} / (CAST(37 * dn + 3200 AS DOUBLE)
                        / CAST(1000 AS DOUBLE)) + CAST(1 AS DOUBLE) AS arg
FROM (SELECT image_id, v AS dn, 1 AS band FROM icpxy
      UNION ALL
      SELECT image_id, mv AS dn, 2 AS band FROM icpxy) tb
""".strip()

ORACLES["thermal_bright"] = f"""
{_PREFIX},
{_IC_PLANE},
thq AS (SELECT image_id, band,
               CAST(floor(({_dlit(_TK2)} / lnarg) * 1048576.0)
                    AS BIGINT) AS q
        FROM ({_lnc(_TH_INNER, "arg", "lnarg")}))
SELECT image_id, CAST(band AS BIGINT) AS band, count(*) AS n_pix,
       CAST(sum(q) AS BIGINT) AS sum_tb_q,
       CAST(min(q) AS BIGINT) AS min_tb_q,
       CAST(max(q) AS BIGINT) AS max_tb_q
FROM thq GROUP BY image_id, band
"""

_BH_INNER = f"""
SELECT image_id,
       CAST(max(CASE WHEN cls = 0 THEN n END) AS BIGINT) AS n1,
       CAST(max(CASE WHEN cls = 1 THEN n END) AS BIGINT) AS n2,
       CAST(max(CASE WHEN cls = 0 THEN s END) AS BIGINT) AS s1,
       CAST(max(CASE WHEN cls = 1 THEN s END) AS BIGINT) AS s2,
       CAST(max(CASE WHEN cls = 0 THEN a END) AS BIGINT) AS a1,
       CAST(max(CASE WHEN cls = 1 THEN a END) AS BIGINT) AS a2
FROM (SELECT image_id, (v * 4) // {_IC_PM} AS cls,
             count(*) AS n, sum(v) AS s,
             count(*) * sum(v * v) - sum(v) * sum(v) AS a
      FROM icpxy WHERE (v * 4) // {_IC_PM} IN (0, 1)
      GROUP BY image_id, (v * 4) // {_IC_PM}) bc
GROUP BY image_id
""".strip()

_BH_MID = f"""
SELECT *, (d1 + d2) AS bnum, (d1 * d2) AS bprod,
       (((mu1 - mu2) * (mu1 - mu2)) / (d1 + d2))
         * CAST(0.25 AS DOUBLE) AS term1
FROM (SELECT *,
        CAST(a1 AS DOUBLE) / CAST(n1 * n1 AS DOUBLE) AS d1,
        CAST(a2 AS DOUBLE) / CAST(n2 * n2 AS DOUBLE) AS d2,
        CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mu1,
        CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mu2
      FROM ({_BH_INNER})
      WHERE n1 >= 2 AND n2 >= 2 AND a1 <> 0 AND a2 <> 0) bd
""".strip()

ORACLES["bhatt_dist"] = f"""
{_PREFIX},
{_IC_PLANE},
bok AS (SELECT image_id, n1, n2, s1 AS sum1, s2 AS sum2,
               CAST(floor(term1 * 1048576.0) AS BIGINT) AS term1_q,
               CAST(floor((term1 + ((lnnum - {_dlit(_LN2V)})
                                    - lnprod * CAST(0.5 AS DOUBLE))
                                   * CAST(0.5 AS DOUBLE))
                          * 1048576.0) AS BIGINT) AS b_q
        FROM ({_lnc(_lnc(_BH_MID, "bnum", "lnnum"),
                    "bprod", "lnprod")})),
ball AS (SELECT image_id,
                CAST(max(CASE WHEN cls = 0 THEN n END) AS BIGINT) AS n1,
                CAST(max(CASE WHEN cls = 1 THEN n END) AS BIGINT) AS n2,
                CAST(max(CASE WHEN cls = 0 THEN s END) AS BIGINT) AS sum1,
                CAST(max(CASE WHEN cls = 1 THEN s END) AS BIGINT) AS sum2
         FROM (SELECT image_id, (v * 4) // {_IC_PM} AS cls,
                      count(*) AS n, sum(v) AS s
               FROM icpxy WHERE (v * 4) // {_IC_PM} IN (0, 1)
               GROUP BY image_id, (v * 4) // {_IC_PM}) x
         GROUP BY image_id)
SELECT a.image_id, coalesce(a.n1, 0) AS n1, coalesce(a.n2, 0) AS n2,
       coalesce(a.sum1, 0) AS sum1, coalesce(a.sum2, 0) AS sum2,
       CAST(coalesce(k.term1_q, -1) AS BIGINT) AS term1_q,
       CAST(coalesce(k.b_q, -1) AS BIGINT) AS b_q
FROM ball a LEFT JOIN bok k ON k.image_id = a.image_id
"""

_YEN_INNER = f"""
SELECT image_id, v, CAST(cc AS DOUBLE) AS fc,
       CAST(nn - cc AS DOUBLE) AS fnc,
       CAST(ca1 AS DOUBLE) AS fa1,
       CAST(atot - ca1 AS DOUBLE) AS fa2
FROM (SELECT image_id, v,
             sum(n) OVER w AS cc,
             sum(n * n) OVER w AS ca1,
             sum(n) OVER (PARTITION BY image_id) AS nn,
             sum(n * n) OVER (PARTITION BY image_id) AS atot
      FROM (SELECT image_id, v, count(*) AS n
            FROM icpxy GROUP BY image_id, v) hh
      WINDOW w AS (PARTITION BY image_id ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) cw
WHERE cc < nn
""".strip()

ORACLES["yen_threshold"] = f"""
{_PREFIX},
{_IC_PLANE},
ycr AS (SELECT image_id, v,
               CAST(floor(((lnc + lnnc) * CAST(2 AS DOUBLE)
                           - (lna1 + lna2)) * 1048576.0)
                    AS BIGINT) AS q
        FROM ({_lnc(_lnc(_lnc(_lnc(_YEN_INNER,
                                   "fc", "lnc"),
                              "fnc", "lnnc"),
                         "fa1", "lna1"),
                    "fa2", "lna2")})),
ysel AS (SELECT image_id, v, q, row_number() OVER (
           PARTITION BY image_id ORDER BY q DESC, v ASC) AS rn
         FROM ycr)
SELECT c.image_id, CAST(count(*) AS BIGINT) AS n_cand,
       CAST(max(CASE WHEN s.rn = 1 THEN s.v END) AS BIGINT) AS thr_v,
       CAST(max(CASE WHEN s.rn = 1 THEN s.q END) AS BIGINT)
         AS max_crit_q,
       CAST(sum(c.q) AS BIGINT) AS sum_crit_q
FROM ycr c JOIN ysel s ON s.image_id = c.image_id AND s.v = c.v
GROUP BY c.image_id
"""


# JM distances (RSGISRATStats::calc1DJMDistance / calc2DJMDistance,
# src/rastergis/RSGISRATStats.cpp:130-141) — twins of
# histmetrics.jm_dist_stats / jm2d_dist_stats (per-bin 2^30
# quantization makes the Bhattacharyya-coefficient sum order-free).
def _jm_oracle(bin_expr: str) -> str:
    return f"""
{_PREFIX},
{_IC_PLANE},
jmn AS (SELECT image_id,
               CAST(sum(CASE WHEN (v * 4) // {_IC_PM} = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS nt1,
               CAST(sum(CASE WHEN (v * 4) // {_IC_PM} = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS nt2
        FROM icpxy GROUP BY image_id),
jh1 AS (SELECT image_id, {bin_expr} AS b, count(*) AS n
        FROM icpxy WHERE (v * 4) // {_IC_PM} = 0
        GROUP BY image_id, {bin_expr}),
jh2 AS (SELECT image_id, {bin_expr} AS b, count(*) AS n
        FROM icpxy WHERE (v * 4) // {_IC_PM} = 1
        GROUP BY image_id, {bin_expr}),
jbc AS (SELECT a.image_id, count(*) AS nb,
               CAST(sum(CAST(floor(sqrt(CAST(a.n * b.n AS DOUBLE)
                    / CAST(t.nt1 * t.nt2 AS DOUBLE))
                    * 1073741824.0) AS BIGINT)) AS BIGINT) AS sq
        FROM jh1 a
        JOIN jh2 b ON b.image_id = a.image_id AND b.b = a.b
        JOIN jmn t ON t.image_id = a.image_id
        GROUP BY a.image_id)
SELECT t.image_id, t.nt1 AS n1, t.nt2 AS n2,
       CAST(CASE WHEN t.nt1 = 0 OR t.nt2 = 0 THEN 0
            ELSE coalesce(c.nb, 0) END AS BIGINT) AS n_bins,
       CAST(CASE WHEN t.nt1 = 0 OR t.nt2 = 0 THEN -1
            ELSE coalesce(c.sq, 0) END AS BIGINT) AS sum_bc_q,
       CAST(CASE WHEN t.nt1 = 0 OR t.nt2 = 0 THEN -1
            ELSE floor(sqrt((CAST(1 AS DOUBLE)
                 - CAST(coalesce(c.sq, 0) AS DOUBLE) / 1073741824.0)
                 * CAST(2 AS DOUBLE)) * 1048576.0) END AS BIGINT) AS jm_q
FROM jmn t LEFT JOIN jbc c ON c.image_id = t.image_id
"""


ORACLES["jm_dist"] = _jm_oracle("mv")
ORACLES["jm2d_dist"] = _jm_oracle("(mv * 64 + (v % 64))")


# ------------------------------- vector maths / lines / misc calibration
from .operators.vector import VM_EXPRS as _VME  # noqa: E402
from .operators.calibration import (SPOT_GAINS as _SPG,  # noqa: E402
                                    SUB_OFFSETS as _SBO)
from .operators.imgcalcmisc import CLR_TABLE as _CLRT  # noqa: E402

ORACLES["vec_maths"] = f"""
{_PREFIX}
SELECT CAST(zone_id AS BIGINT) AS zone_id, zname,
       {_VME["area"]} AS area,
       {_VME["peri"]} AS peri,
       {_VME["aspect_ratio"]} AS aspect_ratio
FROM zones
"""

ORACLES["lines_points"] = f"""
{_PREFIX},
lp AS (SELECT qid, qlon, qlat,
              lead(qlon) OVER (ORDER BY qid) AS x2,
              lead(qlat) OVER (ORDER BY qid) AS y2
       FROM qpts)
SELECT CAST(qid AS BIGINT) AS seg_id, qlon AS x1, qlat AS y1, x2, y2,
       CAST(floor(sqrt((x2 - qlon) * (x2 - qlon)
                       + (y2 - qlat) * (y2 - qlat)) * 1048576.0)
            AS BIGINT) AS len_q
FROM lp WHERE x2 IS NOT NULL
"""

_CLR_CASE_R = "".join(f"WHEN {c} THEN {r} "
                      for c, (r, g, b) in enumerate(_CLRT))
_CLR_CASE_G = "".join(f"WHEN {c} THEN {g} "
                      for c, (r, g, b) in enumerate(_CLRT))
_CLR_CASE_B = "".join(f"WHEN {c} THEN {b} "
                      for c, (r, g, b) in enumerate(_CLRT))

ORACLES["colour_classes"] = f"""
{_PREFIX},
{_IC_PLANE},
ccl AS (SELECT i.image_id, c.cls FROM (SELECT DISTINCT image_id
                                       FROM icpxy) i
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS cls) c),
cca AS (SELECT image_id, (v * 4) // {_IC_PM} AS cls, count(*) AS n
        FROM icpxy GROUP BY image_id, (v * 4) // {_IC_PM})
SELECT l.image_id, CAST(l.cls AS BIGINT) AS cls,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_pix,
       CAST(coalesce(a.n, 0) * (CASE l.cls {_CLR_CASE_R}END)
            AS BIGINT) AS sum_r,
       CAST(coalesce(a.n, 0) * (CASE l.cls {_CLR_CASE_G}END)
            AS BIGINT) AS sum_g,
       CAST(coalesce(a.n, 0) * (CASE l.cls {_CLR_CASE_B}END)
            AS BIGINT) AS sum_b
FROM ccl l LEFT JOIN cca a
  ON a.image_id = l.image_id AND a.cls = l.cls
"""

ORACLES["spot_radiance"] = f"""
{_PREFIX},
{_IC_PLANE},
spq AS (SELECT image_id, 1 AS band,
               CAST(floor((CAST(v AS DOUBLE) / {_dlit(_SPG[0][0])}
                           + {_dlit(_SPG[0][1])}) * 1048576.0)
                    AS BIGINT) AS q
        FROM icpxy
        UNION ALL
        SELECT image_id, 2 AS band,
               CAST(floor((CAST(mv AS DOUBLE) / {_dlit(_SPG[1][0])}
                           + {_dlit(_SPG[1][1])}) * 1048576.0)
                    AS BIGINT) AS q
        FROM icpxy)
SELECT image_id, CAST(band AS BIGINT) AS band, count(*) AS n_pix,
       CAST(sum(q) AS BIGINT) AS sum_l_q,
       CAST(min(q) AS BIGINT) AS min_l_q,
       CAST(max(q) AS BIGINT) AS max_l_q
FROM spq GROUP BY image_id, band
"""

ORACLES["subtract_offsets"] = f"""
{_PREFIX},
{_IC_PLANE},
sbo AS (SELECT image_id, band, dn,
               CASE WHEN dn = 0 THEN 0
                    WHEN dn - off <= 0 THEN 1
                    ELSE dn - off END AS res,
               CASE WHEN dn = 0 THEN 1 ELSE 0 END AS nd,
               CASE WHEN dn <> 0 AND dn - off <= 0 THEN 1 ELSE 0 END
                 AS lifted
        FROM (SELECT image_id, v AS dn, 1 AS band, {_SBO[0]} AS off
              FROM icpxy
              UNION ALL
              SELECT image_id, mv AS dn, 2 AS band, {_SBO[1]} AS off
              FROM icpxy) sb)
SELECT image_id, CAST(band AS BIGINT) AS band, count(*) AS n_pix,
       CAST(sum(nd) AS BIGINT) AS n_nodata,
       CAST(sum(lifted) AS BIGINT) AS n_lifted,
       CAST(sum(res) AS BIGINT) AS sum_out
FROM sbo GROUP BY image_id, band
"""

_TS_P1 = _PXV
_TS_P2 = synth.pixel_value_sql("id", "((x + w - 3) % w)", "y", "fmt")
_TS_P3 = synth.pixel_value_sql("id", "x", "((y + h - 5) % h)", "fmt")

ORACLES["ts_fill_composite"] = f"""
{_PREFIX},
tfx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
tfp AS (SELECT image_id, w, x, unnest(generate_series(0, h - 1)) AS y,
               id, h, fmt
        FROM tfx),
tfr AS (SELECT image_id, w, x, y,
               {_TS_P1} AS p1, {_TS_P2} AS p2, {_TS_P3} AS p3,
               CASE WHEN {_TS_P1} % 5 <> 0 THEN 1
                    WHEN {_TS_P2} % 5 <> 0 THEN 2
                    WHEN {_TS_P3} % 5 <> 0 THEN 3
                    ELSE 0 END AS ref
        FROM tfp)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(CASE WHEN ref = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref1,
       CAST(sum(CASE WHEN ref = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref2,
       CAST(sum(CASE WHEN ref = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref3,
       CAST(sum(CASE WHEN ref = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unfilled,
       CAST(sum(CASE ref WHEN 1 THEN p1 WHEN 2 THEN p2
                WHEN 3 THEN p3 ELSE 0 END) AS BIGINT) AS sum_comp,
       CAST(sum(ref * (y * w + x)) AS BIGINT) AS ref_ck
FROM tfr GROUP BY image_id
"""


# ------------------- thresholds (integer/ln), cloud shadow, global stats
from .operators.histmetrics import (CE_THRESHOLD as _CET,  # noqa: E402
                                    LI_ROUNDS as _LIR)
from .operators.classification import (GCS_MEAN_EXPR as _GMQ,  # noqa: E402
                                       GCS_STD_EXPR as _GSQ)
from .operators.imgcalcmisc import (CSH_DMIN as _CSD0,  # noqa: E402
                                    CSH_DMAX as _CSD1)

ORACLES["isodata_thresh"] = f"""
{_PREFIX},
{_IC_PLANE},
ith AS (SELECT image_id, v, count(*) AS n
        FROM icpxy GROUP BY image_id, v),
itc AS (SELECT image_id, v,
               sum(n) OVER w AS b, sum(v * n) OVER w AS a,
               sum(n) OVER (PARTITION BY image_id) AS nn,
               sum(v * n) OVER (PARTITION BY image_id) AS stot
        FROM ith
        WINDOW w AS (PARTITION BY image_id ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
itp AS (SELECT image_id, v, nn,
               CASE WHEN 2 * v * b * (nn - b)
                         <= a * (nn - b) + (stot - a) * b
                     AND a * (nn - b) + (stot - a) * b
                         < 2 * v * b * (nn - b) + 2 * b * (nn - b)
                    THEN 1 ELSE 0 END AS hit
        FROM itc WHERE b < nn)
SELECT image_id, CAST(max(nn) AS BIGINT) AS n_pix,
       CAST(sum(hit) AS BIGINT) AS n_fixed,
       CAST(coalesce(min(CASE WHEN hit = 1 THEN v END), -1) AS BIGINT)
         AS thr_v
FROM itp GROUP BY image_id
"""

_CE_INNER = f"""
SELECT image_id,
       CAST(na AS BIGINT) AS n_lo, CAST(nn - na AS BIGINT) AS n_hi,
       CAST(sa AS DOUBLE) / CAST(nn AS DOUBLE) AS m1a,
       CAST(st - sa AS DOUBLE) / CAST(nn AS DOUBLE) AS m1b,
       CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mua,
       CAST(st - sa AS DOUBLE) / CAST(nn - na AS DOUBLE) AS mub
FROM (SELECT image_id, count(*) AS nn, sum(v + 1) AS st,
             sum(CASE WHEN v + 1 <= {_CET} THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN v + 1 <= {_CET} THEN v + 1 ELSE 0 END) AS sa
      FROM icpxy GROUP BY image_id) ce
WHERE na > 0 AND na < nn
""".strip()

ORACLES["cross_entropy"] = f"""
{_PREFIX},
{_IC_PLANE},
ceq AS (SELECT image_id, n_lo, n_hi,
               CAST(floor(((CAST(0 AS DOUBLE) - m1a * lnmua)
                           - m1b * lnmub) * 1048576.0) AS BIGINT) AS ce_q
        FROM ({_lnc(_lnc(_CE_INNER, "mua", "lnmua"), "mub", "lnmub")})),
cea AS (SELECT image_id,
               CAST(sum(CASE WHEN v + 1 <= {_CET} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lo,
               CAST(sum(CASE WHEN v + 1 > {_CET} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hi
        FROM icpxy GROUP BY image_id)
SELECT a.image_id, a.n_lo, a.n_hi,
       CAST(coalesce(q.ce_q, -1) AS BIGINT) AS ce_q
FROM cea a LEFT JOIN ceq q ON q.image_id = a.image_id
"""


def _li_oracle(rounds: int, src: str = "icpxy") -> str:
    parts = [f"""
lih AS MATERIALIZED (SELECT image_id, v + 1 AS v, count(*) AS n
                     FROM {src} GROUP BY image_id, v + 1),
lit AS MATERIALIZED (SELECT image_id, CAST(sum(n) AS BIGINT) AS nn,
                            CAST(sum(v * n) AS BIGINT) AS ss
                     FROM lih GROUP BY image_id),
lt0 AS (SELECT image_id, nn, ss,
               CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) AS t
        FROM lit)"""]
    for r in range(1, rounds + 1):
        inner = f"""
SELECT t.image_id, t.nn, t.ss, t.t,
       CAST(coalesce(sum(CASE WHEN h.v > t.t THEN h.n END), 0)
            AS BIGINT) AS nf,
       CAST(coalesce(sum(CASE WHEN h.v > t.t THEN h.v * h.n END), 0)
            AS BIGINT) AS sf
FROM lt{r - 1} t JOIN lih h ON h.image_id = t.image_id
GROUP BY t.image_id, t.nn, t.ss, t.t
""".strip()
        mid = f"""
SELECT *, CAST(sf AS DOUBLE) / CAST(nf AS DOUBLE) AS mf,
       CAST(ss - sf AS DOUBLE) / CAST(nn - nf AS DOUBLE) AS mb
FROM ({inner}) WHERE nf > 0 AND nf < nn
""".strip()
        chained = _lnc(_lnc(mid, "mf", "lnmf"), "mb", "lnmb")
        parts.append(f""",
ltx{r} AS (SELECT image_id, nn, ss,
                CASE WHEN lnmb = lnmf THEN t
                     ELSE (mb - mf) / (lnmb - lnmf) END AS t
         FROM ({chained})),
lt{r} AS MATERIALIZED (
  SELECT p.image_id, p.nn, p.ss, coalesce(x.t, p.t) AS t
  FROM lt{r - 1} p LEFT JOIN ltx{r} x ON x.image_id = p.image_id)""")
    return "".join(parts)


ORACLES["li_threshold"] = f"""
{_PREFIX},
{_IC_PLANE},
{_li_oracle(_LIR)},
lfin AS (SELECT t.image_id, t.nn, t.t,
                CAST(coalesce(sum(CASE WHEN h.v > t.t THEN h.n END), 0)
                     AS BIGINT) AS nf
         FROM lt{_LIR} t JOIN lih h ON h.image_id = t.image_id
         GROUP BY t.image_id, t.nn, t.t)
SELECT image_id, nn AS n_pix, nf AS n_fore,
       CAST(floor(t * 1048576.0) AS BIGINT) AS t_q
FROM lfin
"""

ORACLES["cloud_shadow"] = f"""
{_PREFIX},
{_IC_PLANE},
csc AS (SELECT image_id, w, x, y,
               CASE WHEN (v // 128) % 2 = 1 THEN 1 ELSE 0 END AS cl
        FROM icpxy),
csm AS (SELECT image_id, w, x, y, cl,
               coalesce(max(cl) OVER (PARTITION BY image_id, y
                   ORDER BY x ROWS BETWEEN {_CSD1} PRECEDING
                   AND {_CSD0} PRECEDING), 0) AS proj
        FROM csc)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(cl) AS BIGINT) AS n_cloud,
       CAST(sum(CASE WHEN proj = 1 AND cl = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shadow,
       CAST(coalesce(sum(CASE WHEN proj = 1 AND cl = 0
                         THEN y * w + x END), 0) AS BIGINT) AS shadow_ck
FROM csm GROUP BY image_id
"""

ORACLES["global_class_stats"] = f"""
{_PREFIX},
{_IC_PLANE},
gca AS (SELECT fmt, (v * 4) // {_IC_PM} AS cls,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(v * v) AS BIGINT) AS s2,
               CAST(min(v) AS BIGINT) AS min_v,
               CAST(max(v) AS BIGINT) AS max_v
        FROM icpxy GROUP BY fmt, (v * 4) // {_IC_PM})
SELECT fmt, CAST(cls AS BIGINT) AS cls, n, s, min_v, max_v,
       {_GMQ} AS mean_q,
       {_GSQ} AS std_q
FROM gca
"""

ORACLES["prop_valid"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_RAT_VALS}
SELECT image_id, cid AS clump_id, count(*) AS n_pix,
       CAST(sum(CASE WHEN v % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid,
       CAST(floor((CAST(sum(CASE WHEN v % 5 <> 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE))
                  * 1048576.0) AS BIGINT) AS prop_q
FROM vals GROUP BY image_id, cid
"""


# ------------------- sampling grid / stretch-with-stats / clump merges
from .operators.imgcalcmisc import (SG_OFF as _SGO,  # noqa: E402
                                    SG_STEP as _SGS,
                                    SWS_MIN as _SWSL, SWS_MAX as _SWSH)

ORACLES["sampling_grid"] = f"""
{_PREFIX},
sgx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series({_SGO}, w - 1, {_SGS})) AS gx
        FROM img WHERE id % 19 = 0),
sgp AS (SELECT *, unnest(generate_series({_SGO}, h - 1, {_SGS})) AS gy
        FROM sgx)
SELECT image_id, CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST({synth.pixel_value_sql("id", "gx", "gy", "fmt")} AS BIGINT)
         AS v
FROM sgp
"""

ORACLES["stretch_with_stats"] = f"""
{_PREFIX},
{_IC_PLANE},
swq AS (SELECT image_id,
               CASE WHEN (v - {_SWSL}) * 255 <= 0 THEN 1 ELSE 0 END AS lo,
               CASE WHEN (v - {_SWSL}) * 255 >= 255 * ({_SWSH} - {_SWSL})
                    THEN 1 ELSE 0 END AS hi,
               CAST(floor((CASE
                 WHEN (v - {_SWSL}) * 255 <= 0 THEN CAST(0 AS DOUBLE)
                 WHEN (v - {_SWSL}) * 255 >= 255 * ({_SWSH} - {_SWSL})
                   THEN CAST(255 AS DOUBLE)
                 ELSE CAST((v - {_SWSL}) * 255 AS DOUBLE)
                      / CAST({_SWSH} - {_SWSL} AS DOUBLE) END)
                 * 1048576.0) AS BIGINT) AS q
        FROM icpxy)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(lo) AS BIGINT) AS n_lo,
       CAST(sum(hi) AS BIGINT) AS n_hi,
       CAST(sum(q) AS BIGINT) AS sum_out_q
FROM swq GROUP BY image_id
"""

ORACLES["merge_equiv"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
meq AS (SELECT rl.image_id, rl.cid, cl.n_pix,
               ({synth.pixel_value_sql("i.id", "(cl.root % i.w)",
                                       "(cl.root // i.w)", "i.fmt")})
                 // 128 AS qv
        FROM rl
        JOIN cl ON cl.image_id = rl.image_id AND cl.root = rl.root
        JOIN img i ON i.image_id = rl.image_id),
mea AS (SELECT image_id, qv, count(*) AS n_clumps,
               CAST(sum(n_pix) AS BIGINT) AS n_pix
        FROM meq GROUP BY image_id, qv)
SELECT image_id,
       CAST(row_number() OVER (PARTITION BY image_id ORDER BY qv)
            AS BIGINT) AS merged_id,
       CAST(qv AS BIGINT) AS q_val,
       CAST(n_clumps AS BIGINT) AS n_clumps, n_pix
FROM mea
"""

ORACLES["drop_clumps"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
dcc AS (SELECT rl.image_id, rl.cid, CAST(cl.n_pix AS BIGINT) AS n_pix
        FROM rl JOIN cl ON cl.image_id = rl.image_id
                       AND cl.root = rl.root
        WHERE cl.n_pix >= 50)
SELECT image_id,
       CAST(row_number() OVER (PARTITION BY image_id ORDER BY cid)
            AS BIGINT) AS new_id,
       cid AS old_id, n_pix
FROM dcc
"""


# -------------- 6S elev-LUT, inverse TOA, pxl-res slope, aspect median
from .operators.calibration import LUT_6S as _L6S  # noqa: E402
from .operators.elevation import (slope_pxlres_consts  # noqa: E402
                                  as _spr_consts)

_L6S_ROWS = ", ".join(
    f"({i}, {_dlit(a)}, {_dlit(b)}, {_dlit(c)})"
    for i, (_, a, b, c) in enumerate(_L6S))
_L6S_MIDS = [( _L6S[i][0] + _L6S[i + 1][0]) // 2
             for i in range(len(_L6S) - 1)]

ORACLES["sref_6s_lut"] = f"""
{_PREFIX},
l6x AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 19 = 0),
l6p AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM l6x),
l6e AS (SELECT image_id, {_PXV} AS v,
               CAST((CASE WHEN {_dem_sql(_PXV, "x", "y")} > {_L6S_MIDS[0]}
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN {_dem_sql(_PXV, "x", "y")} > {_L6S_MIDS[1]}
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN {_dem_sql(_PXV, "x", "y")} > {_L6S_MIDS[2]}
                          THEN 1 ELSE 0 END) AS BIGINT) AS lut_idx
        FROM l6p),
l6t (idx, ca, cb, cc) AS (VALUES {_L6S_ROWS}),
l6q AS (SELECT e.image_id, e.lut_idx,
               CAST(floor((CASE
                 WHEN (t.ca * e.v - t.cb)
                      / (CAST(1 AS DOUBLE) + t.cc * (t.ca * e.v - t.cb))
                      * CAST(1000 AS DOUBLE) < CAST(1 AS DOUBLE)
                   THEN CAST(1 AS DOUBLE)
                 WHEN (t.ca * e.v - t.cb)
                      / (CAST(1 AS DOUBLE) + t.cc * (t.ca * e.v - t.cb))
                      * CAST(1000 AS DOUBLE) + CAST(1 AS DOUBLE)
                      > CAST(1000 AS DOUBLE)
                   THEN CAST(1000 AS DOUBLE)
                 ELSE (t.ca * e.v - t.cb)
                      / (CAST(1 AS DOUBLE) + t.cc * (t.ca * e.v - t.cb))
                      * CAST(1000 AS DOUBLE) + CAST(1 AS DOUBLE)
                 END) * 1048576.0) AS BIGINT) AS q
        FROM l6e e JOIN l6t t ON t.idx = e.lut_idx),
l6a AS (SELECT image_id, lut_idx, count(*) AS n,
               CAST(sum(q) AS BIGINT) AS sq,
               CAST(min(q) AS BIGINT) AS mnq,
               CAST(max(q) AS BIGINT) AS mxq
        FROM l6q GROUP BY image_id, lut_idx),
l6l AS (SELECT i.image_id, c.idx FROM (SELECT DISTINCT image_id
                                       FROM l6e) i
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS idx) c)
SELECT l.image_id, CAST(l.idx AS BIGINT) AS lut_idx,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_pix,
       CAST(coalesce(a.sq, -1) AS BIGINT) AS sum_sref_q,
       CAST(coalesce(a.mnq, -1) AS BIGINT) AS min_sref_q,
       CAST(coalesce(a.mxq, -1) AS BIGINT) AS max_sref_q
FROM l6l l LEFT JOIN l6a a
  ON a.image_id = l.image_id AND a.lut_idx = l.idx
"""

from .operators.calibration import toa_consts as _toa_c  # noqa: E402
_T2R_PI, _T2R_DSQ, _T2R_ED, _T2R_SC = _toa_c(1997.0, 35.0, 196, 1000.0)

ORACLES["toa_to_radiance"] = f"""
{_PREFIX},
{_IC_PLANE},
t2q AS (SELECT image_id,
               CAST(floor((((CAST(v AS DOUBLE) / {_dlit(_T2R_SC)})
                            * {_dlit(_T2R_ED)})
                           / ({_dlit(_T2R_PI)} * {_dlit(_T2R_DSQ)}))
                          * 1048576.0) AS BIGINT) AS q
        FROM icpxy)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(q) AS BIGINT) AS sum_l_q,
       CAST(min(q) AS BIGINT) AS min_l_q,
       CAST(max(q) AS BIGINT) AS max_l_q
FROM t2q GROUP BY image_id
"""

_SPR_T = _spr_consts((5.0, 15.0, 30.0))

ORACLES["dem_slope_pxlres"] = f"""
{_PREFIX},
{_EG_CTE.replace("eg AS (SELECT image_id,",
                 "eg AS (SELECT image_id, x, y,")},
sprc AS (SELECT image_id, gx * gx + gy * gy AS g2,
                CAST((CASE WHEN CAST(gx * gx + gy * gy AS DOUBLE)
                           >= {_dlit(_SPR_T[0])}
                              * CAST((30 + ((x + y) % 3) * 5)
                                     * (30 + ((x + y) % 3) * 5)
                                     AS DOUBLE) THEN 1 ELSE 0 END)
                   + (CASE WHEN CAST(gx * gx + gy * gy AS DOUBLE)
                           >= {_dlit(_SPR_T[1])}
                              * CAST((30 + ((x + y) % 3) * 5)
                                     * (30 + ((x + y) % 3) * 5)
                                     AS DOUBLE) THEN 1 ELSE 0 END)
                   + (CASE WHEN CAST(gx * gx + gy * gy AS DOUBLE)
                           >= {_dlit(_SPR_T[2])}
                              * CAST((30 + ((x + y) % 3) * 5)
                                     * (30 + ((x + y) % 3) * 5)
                                     AS DOUBLE) THEN 1 ELSE 0 END)
                     AS BIGINT) AS slope_cls
         FROM eg),
spra AS (SELECT image_id, slope_cls, count(*) AS n_pix,
                CAST(sum(g2) AS BIGINT) AS sum_g2
         FROM sprc GROUP BY image_id, slope_cls),
sprl AS (SELECT image_id, unnest([0, 1, 2, 3]) AS slope_cls
         FROM img WHERE id % 19 = 0)
SELECT l.image_id, CAST(l.slope_cls AS BIGINT) AS slope_cls,
       CAST(coalesce(a.n_pix, 0) AS BIGINT) AS n_pix,
       CAST(coalesce(a.sum_g2, 0) AS BIGINT) AS sum_g2
FROM sprl l LEFT JOIN spra a
  ON a.image_id = l.image_id AND a.slope_cls = l.slope_cls
"""

ORACLES["aspect_med"] = f"""
{_PREFIX},
{_EG_CTE.replace("eg AS (SELECT image_id,",
                 "eg AS (SELECT image_id, w, x, y,")},
amc AS MATERIALIZED (
  -- px/py renames first: a bare x column would collide with the X
  -- alias under DuckDB's case-insensitive resolution
  SELECT image_id, w, px AS x, py AS y,
         CAST({_ASPECT_CASE} AS BIGINT) AS cat
  FROM (SELECT image_id, w, x AS px, y AS py, -gx AS Y, gy AS X
        FROM eg) yx),
amm AS (SELECT c0.image_id, c0.w, c0.x, c0.y,
               list_sort([c1.cat, c2.cat, c3.cat, c4.cat, c0.cat,
                          c5.cat, c6.cat, c7.cat, c8.cat])[5] AS med
        FROM amc c0
        JOIN amc c1 ON c1.image_id = c0.image_id
                   AND c1.x = c0.x - 1 AND c1.y = c0.y - 1
        JOIN amc c2 ON c2.image_id = c0.image_id
                   AND c2.x = c0.x AND c2.y = c0.y - 1
        JOIN amc c3 ON c3.image_id = c0.image_id
                   AND c3.x = c0.x + 1 AND c3.y = c0.y - 1
        JOIN amc c4 ON c4.image_id = c0.image_id
                   AND c4.x = c0.x - 1 AND c4.y = c0.y
        JOIN amc c5 ON c5.image_id = c0.image_id
                   AND c5.x = c0.x + 1 AND c5.y = c0.y
        JOIN amc c6 ON c6.image_id = c0.image_id
                   AND c6.x = c0.x - 1 AND c6.y = c0.y + 1
        JOIN amc c7 ON c7.image_id = c0.image_id
                   AND c7.x = c0.x AND c7.y = c0.y + 1
        JOIN amc c8 ON c8.image_id = c0.image_id
                   AND c8.x = c0.x + 1 AND c8.y = c0.y + 1),
ama AS (SELECT image_id, med, count(*) AS n_pix,
               CAST(sum(y * w + x) AS BIGINT) AS ck
        FROM amm GROUP BY image_id, med),
aml AS (SELECT image_id,
               unnest([0, 1, 2, 3, 4, 5, 6, 7, 8]) AS cat
        FROM img WHERE id % 19 = 0)
SELECT l.image_id, CAST(l.cat AS BIGINT) AS aspect_cat,
       CAST(coalesce(a.n_pix, 0) AS BIGINT) AS n_pix,
       CAST(coalesce(a.ck, 0) AS BIGINT) AS cat_ck
FROM aml l LEFT JOIN ama a
  ON a.image_id = l.image_id AND a.med = l.cat
"""

ORACLES["rand_sample"] = f"""
{_PREFIX},
{_IC_PLANE},
rsr AS (SELECT image_id, (v * 4) // {_IC_PM} AS cls, x, y, v,
               (id * 2654435761 + x * 40503 + y * 69061)
                 % 2147483647 AS hsh
        FROM icpxy),
rsk AS (SELECT image_id, cls, x, y, v,
               row_number() OVER (PARTITION BY image_id
                                  ORDER BY hsh, x, y) AS rank
        FROM rsr)
SELECT image_id, CAST(cls AS BIGINT) AS cls, CAST(rank AS BIGINT) AS rank,
       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, CAST(v AS BIGINT) AS v
FROM rsk WHERE rank <= 5
"""


# local incidence angle: the hillshade-core tree at sun (135, 60),
# emitted as the quantized cosine (operators/elevation.incidence_stats)
_IN_SZ, _IN_CZ, _IN_K1, _IN_K2 = _hs_consts(135.0, 60.0)

ORACLES["local_incidence"] = f"""
{_PREFIX},
{_EG_CTE},
ind AS (SELECT image_id,
               CAST(gx AS DOUBLE) / {_HS_R8} AS dx,
               CAST(-gy AS DOUBLE) / {_HS_R8} AS dy
        FROM eg),
inc AS (SELECT image_id,
               ({_dlit(_IN_SZ)} - {_dlit(_IN_CZ)}
                 * (dy * {_dlit(_IN_K1)} - dx * {_dlit(_IN_K2)}))
               / sqrt({_dlit(1.0)} + (dx * dx + dy * dy)) AS cosi
        FROM ind),
inq AS (SELECT image_id,
               CASE WHEN cosi <= {_dlit(0.0)} THEN 1 ELSE 0 END AS away,
               CAST(floor(cosi * 1048576.0) AS BIGINT) AS q
        FROM inc)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(away) AS BIGINT) AS n_facing_away,
       CAST(sum(q) AS BIGINT) AS sum_cosi_q,
       CAST(min(q) AS BIGINT) AS min_cosi_q,
       CAST(max(q) AS BIGINT) AS max_cosi_q
FROM inq GROUP BY image_id
"""


# kurt+skew threshold (histmetrics.kurt_skew_threshold_stats docstring
# has the exact-integer moment rationalisation; HUGEINT intermediates)
ORACLES["kurt_skew_thresh"] = f"""
{_PREFIX},
{_IC_PLANE},
ksh AS (SELECT image_id, v, CAST(count(*) AS HUGEINT) AS n
        FROM icpxy GROUP BY image_id, v),
kss AS (SELECT image_id, v,
               coalesce(sum(n) OVER w, 0) AS sn,
               coalesce(sum(CAST(v AS HUGEINT) * n) OVER w, 0) AS s1,
               coalesce(sum(CAST(v AS HUGEINT) * v * n) OVER w, 0) AS s2,
               coalesce(sum(CAST(v AS HUGEINT) * v * v * n) OVER w, 0)
                 AS s3,
               coalesce(sum(CAST(v AS HUGEINT) * v * v * v * n) OVER w,
                        0) AS s4
        FROM ksh
        WINDOW w AS (PARTITION BY image_id ORDER BY v DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING)),
ksm AS (SELECT image_id, v, sn,
               sn * s2 - s1 * s1 AS a2,
               sn * sn * s3 - 3 * sn * s1 * s2 + 2 * s1 * s1 * s1 AS a3,
               sn * sn * sn * s4 - 4 * sn * sn * s1 * s3
                 + 6 * sn * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS a4
        FROM kss WHERE sn >= 4),
ksc AS (SELECT image_id, v, sn,
               CAST(floor((abs(CAST(a4 AS DOUBLE)
                               / (CAST(a2 AS DOUBLE)
                                  * CAST(a2 AS DOUBLE))
                               - CAST(3 AS DOUBLE))
                           + abs(CAST(a3 AS DOUBLE)
                                 / (CAST(a2 AS DOUBLE)
                                    * sqrt(CAST(a2 AS DOUBLE)))))
                          * 1048576.0) AS BIGINT) AS crit_q
        FROM ksm WHERE a2 > 0),
ksn AS (SELECT image_id, count(*) AS n_cand FROM ksc GROUP BY image_id),
ksb AS (SELECT image_id, v, crit_q, sn, row_number() OVER (
          PARTITION BY image_id ORDER BY crit_q, v) AS rn
        FROM ksc),
ksi AS (SELECT DISTINCT image_id FROM ksh)
SELECT i.image_id,
       CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_cand,
       CAST(coalesce(b.v, -1) AS BIGINT) AS thr_v,
       CAST(coalesce(b.crit_q, -1) AS BIGINT) AS crit_q,
       CAST(coalesce(b.sn, -1) AS BIGINT) AS n_sub
FROM ksi i
LEFT JOIN ksn c ON c.image_id = i.image_id
LEFT JOIN ksb b ON b.image_id = i.image_id AND b.rn = 1
"""


# ---------------------------------------------------------------------------
# SAR-texture / centre-difference window filters (operators/statfilters.py)
# ---------------------------------------------------------------------------

_MD3_K = ((1, 1, 1), (1, -8, 1), (1, 1, 1))

# mean (|)difference(|) vs centre = the total-diff numerators / 8; the
# numerator is an exact int and k/8 is dyadic, so the double division
# is exact in both engines (RSGISStatsFilters.cpp:673,728).
ORACLES["filter_mean_diff"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(1, w - 2)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM xs),
c AS (SELECT image_id, {_kernel_term(_MD3_K)} AS s FROM pxy)
SELECT image_id, count(*) AS n_interior,
       CAST(sum(s) AS DOUBLE) / CAST(8 AS DOUBLE) AS sum_md,
       CAST(min(s) AS DOUBLE) / CAST(8 AS DOUBLE) AS min_md,
       CAST(max(s) AS DOUBLE) / CAST(8 AS DOUBLE) AS max_md
FROM c GROUP BY image_id
"""

ORACLES["filter_mean_diff_abs"] = f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(1, w - 2)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM xs),
c AS (SELECT image_id, ({_TDA_T}) AS s FROM pxy)
SELECT image_id, count(*) AS n_interior,
       CAST(sum(s) AS DOUBLE) / CAST(8 AS DOUBLE) AS sum_mda,
       CAST(min(s) AS DOUBLE) / CAST(8 AS DOUBLE) AS min_mda,
       CAST(max(s) AS DOUBLE) / CAST(8 AS DOUBLE) AS max_mda
FROM c GROUP BY image_id
"""


def _texture_oracle(kind: str) -> str:
    """DuckDB twin of statfilters.window_texture_stats (3x3, mod=19).

    Binds the nine shifted pixel values as CTE columns (perf lesson 14)
    and mirrors the operator's pinned op tree exactly: integer window
    sums, sqrt/ln per-term transforms summed in row-major order,
    2^20-quantized per-pixel outputs, exact integer aggregation.
    """
    from .functions.detmath import ln_steps

    idx = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    vcols = ", ".join(f"({_pxv_at(dx, dy)}) AS v{i}"
                      for i, (dy, dx) in enumerate(idx))
    base = f"""
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(1, w - 2)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM xs),
vb AS (SELECT image_id, {vcols} FROM pxy)
""".strip()
    q20 = "1048576.0"
    if kind == "cov":
        s = " + ".join(f"v{i}" for i in range(9))
        ss = " + ".join(f"v{i} * v{i}" for i in range(9))
        inner = f"""
tb AS (SELECT image_id, ({s}) AS s, ({ss}) AS ss FROM vb),
qb AS (SELECT image_id,
          CASE WHEN s > 0 THEN 0 ELSE 1 END AS g,
          CASE WHEN s > 0
               THEN CAST(floor(sqrt(CAST(9 * ss - s * s AS DOUBLE))
                               / CAST(s AS DOUBLE) * {q20}) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS q
       FROM tb)
""".strip()
        agg_src = "qb"
    else:
        nv = " + ".join(f"(CASE WHEN v{i} <> 0 THEN 1 ELSE 0 END)"
                        for i in range(9))
        if kind == "nv_power":
            sm = " + ".join(f"(CASE WHEN v{i} <> 0 THEN CAST(v{i} AS DOUBLE)"
                            f" ELSE CAST(0 AS DOUBLE) END)" for i in range(9))
            sq = " + ".join(f"(CASE WHEN v{i} <> 0 THEN "
                            f"CAST(v{i} * v{i} AS DOUBLE)"
                            f" ELSE CAST(0 AS DOUBLE) END)" for i in range(9))
            src = "vb"
        elif kind == "nv_sqrt":
            sm = " + ".join(f"(CASE WHEN v{i} <> 0 THEN "
                            f"sqrt(CAST(v{i} AS DOUBLE))"
                            f" ELSE CAST(0 AS DOUBLE) END)" for i in range(9))
            sq = " + ".join(f"(CASE WHEN v{i} <> 0 THEN CAST(v{i} AS DOUBLE)"
                            f" ELSE CAST(0 AS DOUBLE) END)" for i in range(9))
            src = "vb"
        else:  # nv_ln
            chain = "SELECT *, " + ", ".join(
                f"CAST(v{i} AS DOUBLE) AS vd{i}" for i in range(9)) \
                + " FROM vb"
            for i in range(9):
                for name, expr in ln_steps(f"vd{i}", f"l{i}", lo=0, hi=10):
                    chain = f"SELECT *, {expr} AS {name} FROM ({chain})"
            sm = " + ".join(f"(CASE WHEN v{i} <> 0 THEN l{i}"
                            f" ELSE CAST(0 AS DOUBLE) END)" for i in range(9))
            sq = " + ".join(f"(CASE WHEN v{i} <> 0 THEN l{i} * l{i}"
                            f" ELSE CAST(0 AS DOUBLE) END)" for i in range(9))
            base += f",\nlnb AS ({chain})"
            src = "lnb"
        inner = f"""
tb AS (SELECT image_id, v4 AS vc, ({nv}) AS nv,
              (CAST(0 AS DOUBLE) + {sm}) AS sm,
              (CAST(0 AS DOUBLE) + {sq}) AS sq
       FROM {src}),
mb AS (SELECT image_id, vc, nv, sm, sq,
          CASE WHEN vc <> 0 AND nv > 3
               THEN sm / CAST(nv AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS im
       FROM tb),
qb AS (SELECT image_id,
          CASE WHEN vc <> 0 AND nv > 3 AND im * im > CAST(0 AS DOUBLE)
               THEN 0 ELSE 1 END AS g,
          CASE WHEN vc <> 0 AND nv > 3 AND im * im > CAST(0 AS DOUBLE)
               THEN CAST(floor((sq / CAST(nv AS DOUBLE) / (im * im)
                                - CAST(1 AS DOUBLE)) * {q20}) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS q
       FROM mb)
""".strip()
        agg_src = "qb"
    return f"""
{_PREFIX},
{base},
{inner}
SELECT i.image_id,
       CAST(coalesce(t.n_interior, 0) AS BIGINT) AS n_interior,
       CAST(coalesce(t.n_guard, 0) AS BIGINT) AS n_guard,
       CAST(coalesce(t.sum_q, 0) AS BIGINT) AS sum_q,
       CAST(coalesce(t.min_q, 0) AS BIGINT) AS min_q,
       CAST(coalesce(t.max_q, 0) AS BIGINT) AS max_q
FROM (SELECT image_id FROM img WHERE id % 19 = 0) i
LEFT JOIN (SELECT image_id, count(*) AS n_interior, sum(g) AS n_guard,
                  sum(q) AS sum_q, min(q) AS min_q, max(q) AS max_q
           FROM {agg_src} GROUP BY image_id) t
  ON t.image_id = i.image_id
"""


ORACLES["filter_coeff_var"] = _texture_oracle("cov")
ORACLES["filter_norm_var"] = _texture_oracle("nv_power")
ORACLES["filter_norm_var_sqrt"] = _texture_oracle("nv_sqrt")
ORACLES["filter_norm_var_ln"] = _texture_oracle("nv_ln")


# ---------------------------------------------------------------------------
# Spectral-index family (operators/indices.py; imagecalc/calcindices.py)
# ---------------------------------------------------------------------------

def _spectral_indices_oracle() -> str:
    """DuckDB twin of indices.spectral_indices_stats (mod=19).

    Bands as CTE columns (lesson 14), numerators/denominators as exact
    ints, ONE CAST-to-DOUBLE division per ratio index, floor(idx*2^20)
    quantisation, exact BIGINT sums.  `^` is avoided (DuckDB power
    returns DOUBLE) — squares are spelled as products.
    """
    v = synth.pixel_value_sql("id", "x", "y", "fmt")
    vm = synth.pixel_value_sql("id", "(w - 1 - x)", "y", "fmt")
    vf = synth.pixel_value_sql("id", "x", "(h - 1 - y)", "fmt")
    vr = synth.pixel_value_sql("id", "(w - 1 - x)", "(h - 1 - y)", "fmt")
    pmax = synth.pmax_sql("fmt")

    def ratio(num, den):
        return (f"CASE WHEN ({den}) = 0 THEN CAST(-999 AS DOUBLE) "
                f"ELSE CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) END")

    idx_exprs = {
        "ndwi": ratio("green - nir", "green + nir"),
        "gndvi": ratio("nir - green", "nir + green"),
        "ndsi": ratio("green - swir", "green + swir"),
        "nbr": ratio("nir - swir", "nir + swir"),
        "wbi": ratio("blue", "nir"),
        "white": ratio("abs(3*blue - s) + abs(3*green - s) + abs(3*red - s)",
                       "s"),
        "bright": ("CASE WHEN s = 0 THEN CAST(-999 AS DOUBLE) ELSE "
                   "(CAST(blue AS DOUBLE)/CAST(1000 AS DOUBLE)"
                   " + CAST(green AS DOUBLE)/CAST(1000 AS DOUBLE)"
                   " + CAST(red AS DOUBLE)/CAST(1000 AS DOUBLE))"
                   "/CAST(3 AS DOUBLE) END"),
        "bai": ratio("1000000",
                     "(100 - red)*(100 - red) + (60 - nir)*(60 - nir)"),
        "ctvi": ("CASE WHEN (nir + red) = 0 THEN CAST(-999 AS DOUBLE) "
                 "WHEN ctx >= CAST(0 AS DOUBLE) THEN sqrt(ctx) "
                 "ELSE -sqrt(-ctx) END"),
        "evi": ratio("5*(nir - red)", "2*nir + 12*red - 15*blue + 2000"),
        "evi2": ratio("25*(nir - red)", "10*nir + 24*red + 10000"),
        "mvi": ratio("nir - green", "swir - green"),
    }
    qcols = ",\n  ".join(
        f"CAST(floor(({e}) * CAST(1048576 AS DOUBLE)) AS BIGINT) AS q_{k}"
        for k, e in idx_exprs.items())
    scols = ",\n  ".join(
        f"CAST(sum(q_{k}) AS BIGINT) AS s_{k}" for k in idx_exprs)
    return f"""
{_PREFIX},
xs AS (SELECT image_id, id, w, h, fmt,
              unnest(generate_series(0, w - 1)) AS x
       FROM img WHERE id % 19 = 0),
pxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs),
b AS (SELECT image_id,
             {v} AS blue, {vm} AS green, {vf} AS red, {vr} AS nir,
             ({pmax} - 1 - {v}) AS swir
      FROM pxy),
b2 AS (SELECT *, blue + green + red AS s,
              CASE WHEN (nir + red) = 0 THEN CAST(0 AS DOUBLE)
                   ELSE CAST(nir - red AS DOUBLE)
                        / CAST(nir + red AS DOUBLE) END
              + CAST(0.5 AS DOUBLE) AS ctx
       FROM b),
q AS (SELECT image_id,
  {qcols}
FROM b2)
SELECT image_id, count(*) AS n_pix,
  {scols},
  CAST(min(q_ndwi) AS BIGINT) AS mn_ndwi,
  CAST(max(q_ndwi) AS BIGINT) AS mx_ndwi
FROM q GROUP BY image_id
"""


ORACLES["spectral_indices"] = _spectral_indices_oracle()


# Web-mercator tile grid (geo/webmerc.py): same generated SQL tree the
# Spark query evaluates (shared expression text => bit-identical).
def _web_tiles_oracle() -> str:
    from .geo.webmerc import webmerc_tile_sql

    inner = """SELECT qid,
              CAST(-180.0 AS DOUBLE) + ((qlon + 180.0) % 360.0) AS qlon,
              CAST(-85.0 AS DOUBLE) + ((qlat + 60.0) % 170.0) AS qlat
       FROM qpts"""
    sql, fin = webmerc_tile_sql(inner, "qlon", "qlat", zoom=12)
    keys = ("tx", "ty", "tms_y", "qk_num", "mx", "my", "lon_tl",
            "bxmin", "bxmax", "bymin", "bymax")
    sel = ", ".join(f"{fin[k]} AS {k}" for k in keys)
    return f"{_PREFIX}\nSELECT qid, {sel}\nFROM ({sql})"


ORACLES["web_tiles"] = _web_tiles_oracle()


# overlay identity = the union oracle without its B-only branch
# (operators/overlay.rect_identity; vec_lyr_identity_gp)
ORACLES["overlay_identity"] = f"""
{_PREFIX},
za AS (SELECT zone_id AS fid, zxmin AS bx0, zxmax AS bx1,
              zymin AS by0, zymax AS by1 FROM zones),
bandE AS (SELECT CAST(-40.0 AS DOUBLE) AS ex0, CAST(40.0 AS DOUBLE) AS ex1,
                 CAST(-15.0 AS DOUBLE) AS ey0, CAST(15.0 AS DOUBLE) AS ey1),
{_rect_erase_sql('sa', 'za', 'bandE', 'fid')},
ib AS (SELECT 'int' AS kind, z.zone_id AS a_id, CAST(1 AS BIGINT) AS b_id,
              greatest(z.zxmin, CAST(-40.0 AS DOUBLE)) AS rxmin,
              least(z.zxmax, CAST(40.0 AS DOUBLE)) AS rxmax,
              greatest(z.zymin, CAST(-15.0 AS DOUBLE)) AS rymin,
              least(z.zymax, CAST(15.0 AS DOUBLE)) AS rymax,
              CAST(1 AS BIGINT) AS part_idx
       FROM zones z
       WHERE z.zxmax > CAST(-40.0 AS DOUBLE)
         AND CAST(40.0 AS DOUBLE) > z.zxmin
         AND z.zymax > CAST(-15.0 AS DOUBLE)
         AND CAST(15.0 AS DOUBLE) > z.zymin)
SELECT kind, a_id, b_id, part_idx, rxmin, rxmax, rymin, rymax FROM ib
UNION ALL
SELECT 'a' AS kind, fid AS a_id, CAST(NULL AS BIGINT) AS b_id, part_idx,
       rxmin, rxmax, rymin, rymax FROM saparts
"""


# CQV predictor selection (tools/stats.py:85): dyadic quantile_cont
# matches numpy/Spark linear interpolation bit-exactly (lesson 6).
ORACLES["cqv_select"] = f"""
{_PREFIX},
cst AS (
  SELECT 'area' AS pred, CAST(w * h AS DOUBLE) AS val FROM img
  UNION ALL SELECT 'alat', abs(lat) + CAST(1 AS DOUBLE) FROM img
  UNION ALL SELECT 'alon', abs(lon) + CAST(1 AS DOUBLE) FROM img
  UNION ALL SELECT 'h', CAST(h AS DOUBLE) FROM img
  UNION ALL SELECT 'idm', CAST(id % 97 AS DOUBLE) FROM img
  UNION ALL SELECT 'w', CAST(w AS DOUBLE) FROM img),
cq AS (SELECT pred,
              quantile_cont(val, 0.25) AS q1,
              quantile_cont(val, 0.75) AS q3
       FROM cst GROUP BY pred)
SELECT pred, q1, q3,
       (q3 - q1) / (q3 + q1) AS cqv,
       CAST(((q3 - q1) / (q3 + q1)) >= CAST(0.25 AS DOUBLE)
            AND ((q3 - q1) / (q3 + q1)) <= CAST(0.75 AS DOUBLE)
            AS BIGINT) AS good
FROM cq
"""


# extent-on-grid snaps (tools/geometrytools.py:272/331/385): the same
# generated expression text the Spark query evaluates.
def _extent_on_grid_oracle() -> str:
    from .geo.bbox import extent_on_grid_sql, extent_whole_num_grid_sql

    grow = extent_on_grid_sql("zxmin", "zxmax", "zymin", "zymax", 0.25, True)
    shrink = extent_on_grid_sql("zxmin", "zxmax", "zymin", "zymax",
                                0.25, False)
    whole = extent_whole_num_grid_sql("zxmin", "zxmax", "zymin", "zymax",
                                      0.25, True)
    common = extent_on_grid_sql(
        "greatest(zxmin, CAST(-40.0 AS DOUBLE))",
        "least(zxmax, CAST(40.0 AS DOUBLE))",
        "greatest(zymin, CAST(-15.0 AS DOUBLE))",
        "least(zymax, CAST(15.0 AS DOUBLE))", 0.25, True)
    cols = ["zone_id"]
    cols += [f"{e} AS {k}" for k, e in grow.items()]
    cols += [f"{e} AS s{k[1:]}" for k, e in shrink.items()]
    cols += [f"{e} AS {k}" for k, e in whole.items()]
    cols += [f"{e} AS c{k[1:]}" for k, e in common.items()]
    sel = ",\n  ".join(cols)
    return f"""
{_PREFIX}
SELECT {sel}
FROM zones
WHERE zxmax > CAST(-40.0 AS DOUBLE) AND zxmin < CAST(40.0 AS DOUBLE)
  AND zymax > CAST(-15.0 AS DOUBLE) AND zymin < CAST(15.0 AS DOUBLE)
"""


ORACLES["extent_on_grid"] = _extent_on_grid_oracle()


# Landsat C2 QA_PIXEL parse (imagecalibration/sensorlvl2data.py:535)
def _qa_c2_oracle() -> str:
    def bit(j):
        return (f"(CASE WHEN (q % {1 << (j + 1)}) >= {1 << j} "
                f"THEN 1 ELSE 0 END)")

    bits = ",\n         ".join(f"{bit(j)} AS b{j}" for j in range(16))
    flags = ", ".join(
        f"CAST(sum(b{j}) AS BIGINT) AS {k}" for k, j in zip(
            ("n_fill", "n_dilated", "n_cirrus", "n_cloud", "n_shadow",
             "n_snow", "n_clear", "n_water"), range(8)))
    confs = ", ".join(
        f"CAST(sum(1 + 2 * b{hi} + b{hi + 1}) AS BIGINT) AS {k}"
        for k, hi in zip(("s_cloud_conf", "s_shadow_conf", "s_snow_conf",
                          "s_cirrus_conf"), (8, 10, 12, 14)))
    return f"""
{_PREFIX},
{_IC_PLANE},
qa AS (SELECT image_id, ((v * 67) % 65536) AS q FROM icpxy),
qb AS (SELECT image_id,
         {bits}
       FROM qa)
SELECT image_id, count(*) AS n_pix,
       {flags},
       {confs},
       CAST(sum(CASE WHEN b8 = 1 AND b9 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cloud_high
FROM qb GROUP BY image_id
"""


ORACLES["qa_c2_parse"] = _qa_c2_oracle()


# Pontius quantity/allocation disagreement (classaccuracymetrics.py:46)
def _quantity_acc_oracle() -> str:
    cm = ",\n         ".join(
        f"sum(CASE WHEN cls = {i} AND pcls = {j} THEN 1 ELSE 0 END) "
        f"AS c{i}{j}" for i in range(4) for j in range(4))
    rows = ",\n         ".join(
        f"(c{i}0 + c{i}1 + c{i}2 + c{i}3) AS r{i}" for i in range(4))
    areas = ",\n         ".join(
        f"(c0{j} + c1{j} + c2{j} + c3{j}) AS a{j}" for j in range(4))
    norm = ",\n         ".join(
        f"(CASE WHEN r{i} = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE CAST(c{i}{j} * a{i} AS DOUBLE) "
        f"/ CAST(r{i} * tt AS DOUBLE) END) AS n{i}{j}"
        for i in range(4) for j in range(4))
    comp = ",\n         ".join(
        f"(n{i}0 + n{i}1 + n{i}2 + n{i}3) AS cp{i}" for i in range(4))
    ref = ",\n         ".join(
        f"(n0{j} + n1{j} + n2{j} + n3{j}) AS rf{j}" for j in range(4))
    dq = " + ".join(f"abs(rf{k} - cp{k})" for k in range(4))
    mins = " + ".join(
        f"CAST(2 AS DOUBLE) * least(cp{k} - n{k}{k}, rf{k} - n{k}{k})"
        for k in range(4))
    diag = " + ".join(f"n{k}{k}" for k in range(4))
    tot = " + ".join(f"cp{k}" for k in range(4))
    return f"""
{_PREFIX},
{_IC_PLANE},
qac AS (SELECT image_id, (v * 4) // {_IC_PM} AS cls,
               (mv * 4) // {_IC_PM} AS pcls
        FROM icpxy),
qcm AS (SELECT image_id,
         {cm}
        FROM qac GROUP BY image_id),
qrt AS (SELECT *,
         {rows},
         {areas}
        FROM qcm),
qrt2 AS (SELECT *, (a0 + a1 + a2 + a3) AS tt FROM qrt),
qnm AS (SELECT *,
         {norm}
        FROM qrt2),
qcr AS (SELECT *,
         {comp},
         {ref}
        FROM qnm),
qm AS (SELECT image_id,
              CAST(tt AS BIGINT) AS n_total,
              CAST(c00 + c11 + c22 + c33 AS BIGINT) AS n_correct,
              (({dq}) / CAST(2 AS DOUBLE)) AS q_dis,
              (({mins}) / CAST(2 AS DOUBLE)) AS a_dis,
              (({diag}) / ({tot})) AS prop_corr
       FROM qcr)
SELECT image_id, n_total, n_correct, q_dis, a_dis, prop_corr,
       (q_dis + a_dis) AS t_dis
FROM qm
"""


ORACLES["quantity_acc"] = _quantity_acc_oracle()


# Line-geometry family (operators/lineops.py) — same expression text.
def _line_intersect_oracle() -> str:
    from .operators.lineops import DX, DY, edge_union_sql, t_expr, u_expr

    t, u = t_expr(), u_expr()
    return f"""
{_PREFIX},
ledg AS ({edge_union_sql()}),
lhit AS (SELECT qid, qlon, qlat, t, u
         FROM (SELECT q.qid, q.qlon, q.qlat,
                      {t} AS t, {u} AS u
               FROM qpts q CROSS JOIN ledg e)
         WHERE t >= CAST(0 AS DOUBLE) AND t <= CAST(1 AS DOUBLE)
           AND u >= CAST(0 AS DOUBLE) AND u <= CAST(1 AS DOUBLE)),
lagg AS (SELECT qid, qlon, qlat, count(*) AS n_hits,
                min(t) AS t_min, max(t) AS t_max
         FROM lhit GROUP BY qid, qlon, qlat),
lsc AS (SELECT h.qid, min(h.t) AS t_scnd_raw
        FROM lhit h JOIN lagg a ON a.qid = h.qid
        WHERE h.t > a.t_min GROUP BY h.qid)
SELECT a.qid, CAST(a.n_hits AS BIGINT) AS n_hits, a.t_min,
       coalesce(s.t_scnd_raw, CAST(-1 AS DOUBLE)) AS t_scnd, a.t_max,
       a.qlon + a.t_min * CAST({DX} AS DOUBLE) AS cx,
       a.qlat + a.t_min * CAST({DY} AS DOUBLE) AS cy,
       a.qlon + a.t_max * CAST({DX} AS DOUBLE) AS fx,
       a.qlat + a.t_max * CAST({DY} AS DOUBLE) AS fy
FROM lagg a LEFT JOIN lsc s ON s.qid = a.qid
"""


ORACLES["line_intersect"] = _line_intersect_oracle()


def _line_project_oracle() -> str:
    from .operators.lineops import line_project_exprs

    e = line_project_exprs()
    sel = ", ".join(f"{x} AS {k}" for k, x in e.items())
    return f"{_PREFIX}\nSELECT qid, {sel}\nFROM qpts"


ORACLES["line_project"] = _line_project_oracle()


# ------------------------------------------------------------------ binstats
# tools.stats accuracy_scores_binary / bin_accuracy_scores_prob /
# breusch_pagan_test / calc_pandas_vif / get_nbins_histogram twins
# (operators/binstats.py docstrings carry the determinism contract:
# exact integer aggregates, quantized residuals r16 = floor(16*rn/det)
# so no >2^53 value crosses a DOUBLE cast, detmath ln ladders for every
# log, pinned IEEE expression trees mirrored verbatim below).

def _fdv(a: str, b: str) -> str:
    """Python-floor integer division a//b for b > 0 (lesson 4: DuckDB
    // truncates toward zero; route negatives through the pymod)."""
    return (f"((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b}))")


_BST_E = "((x * 7 + y * 3 + id) % 21 - 10)"
_BST_PM = synth.pmax_sql("fmt")

_BST_PX = f"""
bstx AS (SELECT image_id, id, w, h, fmt,
                unnest(generate_series(0, w - 1)) AS x
         FROM img WHERE id % 19 = 0),
bstxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM bstx),
bstv AS (SELECT image_id, id, x, y, {_PXV} AS v,
                least(greatest({_PXV} + {_BST_E}, 0),
                      {_BST_PM} - 1) AS vp,
                {_BST_PM} AS pmax
         FROM bstxy)
""".strip()

_RQ = "1048576.0"


def _rq_sql(num: str, den: str) -> str:
    return (f"CAST(CASE WHEN ({den}) = 0 THEN -1 ELSE floor("
            f"(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)) * {_RQ})"
            f" END AS BIGINT)")


# ---- binary_scores -------------------------------------------------------
_BIN_LN_TALL = f"""
SELECT image_id, kind, CAST(arg AS DOUBLE) AS arg FROM (
  SELECT image_id, 'n' AS kind, n AS arg FROM bcm
  UNION ALL SELECT image_id, 'n1t', tp + fp FROM bcm
  UNION ALL SELECT image_id, 'n0t', ta + fa FROM bcm
  UNION ALL SELECT image_id, 'n1p', tp + fa FROM bcm
  UNION ALL SELECT image_id, 'n0p', ta + fp FROM bcm
  UNION ALL SELECT image_id, 'ctp', tp FROM bcm
  UNION ALL SELECT image_id, 'cfp', fp FROM bcm
  UNION ALL SELECT image_id, 'cfa', fa FROM bcm
  UNION ALL SELECT image_id, 'cta', ta FROM bcm
) WHERE arg > 0
""".strip()

_BIN_MI_TERM = """
CASE WHEN {c} > 0 THEN
  (CAST({c} AS DOUBLE) / CAST(b.n AS DOUBLE))
  * ((l.ln_n + l.{lnc}) - (l.{lnrm} + l.{lncm}))
ELSE CAST(0 AS DOUBLE) END
""".strip()


def _bin_scores_oracle() -> str:
    from .functions.detmath import ln_chain_sql
    mi11 = _BIN_MI_TERM.format(c="b.tp", lnc="ln_ctp",
                               lnrm="ln_n1t", lncm="ln_n1p")
    mi10 = _BIN_MI_TERM.format(c="b.fp", lnc="ln_cfp",
                               lnrm="ln_n1t", lncm="ln_n0p")
    mi01 = _BIN_MI_TERM.format(c="b.fa", lnc="ln_cfa",
                               lnrm="ln_n0t", lncm="ln_n1p")
    mi00 = _BIN_MI_TERM.format(c="b.ta", lnc="ln_cta",
                               lnrm="ln_n0t", lncm="ln_n0p")
    pivot = ", ".join(
        f"max(CASE WHEN kind = '{k}' THEN lnv END) AS ln_{k}"
        for k in ("n", "n1t", "n0t", "n1p", "n0p",
                  "ctp", "cfp", "cfa", "cta"))
    return f"""
{_PREFIX},
{_BST_PX},
bcls AS (SELECT image_id, (v * 2) // pmax AS yt, (vp * 2) // pmax AS yp
         FROM bstv),
bcm AS MATERIALIZED (SELECT image_id, count(*) AS n,
    CAST(sum(CASE WHEN yt = 1 AND yp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN yt = 0 AND yp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ta,
    CAST(sum(CASE WHEN yt = 1 AND yp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN yt = 0 AND yp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fa
  FROM bcls GROUP BY image_id),
blns AS MATERIALIZED (
  SELECT image_id, {pivot}
  FROM ({ln_chain_sql(_BIN_LN_TALL, "arg", "lnv")})
  GROUP BY image_id),
bder AS (SELECT b.*, l.* EXCLUDE (image_id),
    b.tp + b.fp AS n1, b.ta + b.fa AS n0,
    (b.tp + b.fp) * (b.tp + b.fa)
      + (b.ta + b.fa) * (b.ta + b.fp) AS pe,
    CASE WHEN b.fa > 0 THEN
      CAST(b.tp AS DOUBLE) / CAST(b.fa AS DOUBLE) / CAST(b.n AS DOUBLE)
    END AS prev,
    CASE WHEN (b.tp + b.fp) > 0 AND (b.tp + b.fa) > 0
          AND (b.ta + b.fp) > 0 AND (b.ta + b.fa) > 0 THEN
      sqrt(((CAST(b.tp + b.fp AS DOUBLE) * CAST(b.tp + b.fa AS DOUBLE))
            * CAST(b.ta + b.fp AS DOUBLE)) * CAST(b.ta + b.fa AS DOUBLE))
    END AS mccden,
    CASE WHEN b.tp + b.fp > 0 AND b.ta + b.fa > 0
          AND b.tp + b.fa > 0 AND b.ta + b.fp > 0 THEN
      (l.ln_n - (CAST(b.tp + b.fp AS DOUBLE) * l.ln_n1t
                 + CAST(b.ta + b.fa AS DOUBLE) * l.ln_n0t)
                / CAST(b.n AS DOUBLE))
    END AS h_t,
    CASE WHEN b.tp + b.fp > 0 AND b.ta + b.fa > 0
          AND b.tp + b.fa > 0 AND b.ta + b.fp > 0 THEN
      (l.ln_n - (CAST(b.tp + b.fa AS DOUBLE) * l.ln_n1p
                 + CAST(b.ta + b.fp AS DOUBLE) * l.ln_n0p)
                / CAST(b.n AS DOUBLE))
    END AS h_p,
    ((((CAST(0 AS DOUBLE) + {mi11}) + {mi10}) + {mi01}) + {mi00}) AS mi
  FROM bcm b JOIN blns l ON l.image_id = b.image_id)
SELECT image_id, CAST(n AS BIGINT) AS n, tp, ta, fp, fa,
  CAST(CASE WHEN fa = 0 THEN -1
       ELSE floor(prev * {_RQ}) END AS BIGINT) AS prev_q,
  CAST(CASE WHEN fa = 0 THEN -1
       ELSE floor((CAST(1 AS DOUBLE) - prev) * {_RQ}) END AS BIGINT)
    AS odp_q,
  {_rq_sql("tp + ta", "n")} AS ccr_q,
  {_rq_sql("fp + fa", "n")} AS mr_q,
  {_rq_sql("tp", "tp + fp")} AS ppp_q,
  {_rq_sql("ta", "ta + fa")} AS app_q,
  {_rq_sql("tp + ta", "n1 + n0")} AS acc_q,
  CAST(CASE WHEN n1 = 0 OR n0 = 0 THEN -1 ELSE floor(
    (CAST(tp * n0 + ta * n1 AS DOUBLE) / CAST(2 * n1 * n0 AS DOUBLE))
    * {_RQ}) END AS BIGINT) AS bacc_q,
  {_rq_sql("tp", "n1")} AS sens_q,
  {_rq_sql("ta", "n0")} AS spec_q,
  {_rq_sql("tp", "tp + fp")} AS prec_q,
  {_rq_sql("2 * tp", "2 * tp + fp + fa")} AS f1_q,
  CAST(CASE WHEN mccden IS NULL THEN -1 ELSE floor(
    (CAST(tp * ta - fp * fa AS DOUBLE) / mccden) * {_RQ})
    END AS BIGINT) AS mcc_q,
  {_rq_sql("n * (tp + ta) - pe", "n * n - pe")} AS kappa_q,
  CAST(CASE WHEN h_t IS NULL OR h_p IS NULL
              OR (h_t + h_p) / CAST(2 AS DOUBLE) <= CAST(0 AS DOUBLE)
       THEN -1 ELSE floor(
         (mi / ((h_t + h_p) / CAST(2 AS DOUBLE))) * {_RQ})
       END AS BIGINT) AS nmi_q,
  CAST(CASE WHEN n1 = 0 OR n0 = 0 THEN -1 ELSE floor(
    (CAST(tp * n0 + ta * n1 - n1 * n0 AS DOUBLE)
     / CAST(n1 * n0 AS DOUBLE)) * {_RQ}) END AS BIGINT) AS tss_q
FROM bder
"""


ORACLES["binary_scores"] = _bin_scores_oracle()


# ---- prob_scores ---------------------------------------------------------
_PROB_LN_TALL = """
SELECT image_id, vp, yt, c, CAST(arg AS DOUBLE) AS arg FROM (
  SELECT image_id, vp, yt, c,
         CASE WHEN yt = 1 THEN vp + 1 ELSE pmax + 1 - vp END AS arg
  FROM pgy
  UNION ALL
  SELECT image_id, -1 AS vp, -1 AS yt, 0 AS c, pmax + 2 AS arg
  FROM (SELECT DISTINCT image_id, pmax FROM pgy)
)
""".strip()


def _prob_scores_oracle() -> str:
    from .functions.detmath import ln_chain_sql
    return f"""
{_PREFIX},
{_BST_PX},
pgy AS MATERIALIZED (
  SELECT image_id, vp, (v * 2) // pmax AS yt, max(pmax) AS pmax,
         count(*) AS c
  FROM bstv GROUP BY image_id, vp, (v * 2) // pmax),
pval AS MATERIALIZED (
  SELECT image_id, vp, CAST(sum(c) AS BIGINT) AS cnt,
         CAST(sum(CASE WHEN yt = 1 THEN c ELSE 0 END) AS BIGINT) AS ps
  FROM pgy GROUP BY image_id, vp),
pwin AS (SELECT image_id, vp, cnt, ps,
         CAST(coalesce(sum(cnt) OVER (PARTITION BY image_id ORDER BY vp
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cumb,
         CAST(sum(ps) OVER (PARTITION BY image_id ORDER BY vp DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp_cum,
         CAST(sum(cnt) OVER (PARTITION BY image_id ORDER BY vp DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pred_cum
         FROM pval),
pimg AS MATERIALIZED (
  SELECT image_id, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(ps) AS BIGINT) AS n1,
         CAST(sum(cnt) - sum(ps) AS BIGINT) AS n0,
         CAST(sum(ps * (2 * cumb + cnt + 1)) AS BIGINT) AS two_r1
  FROM pwin GROUP BY image_id),
pap AS (SELECT w.image_id,
         CAST(sum((w.ps * w.tp_cum * 1073741824)
                  // (i.n1 * w.pred_cum)) AS BIGINT) AS ap_q30
        FROM pwin w JOIN pimg i ON i.image_id = w.image_id
        WHERE i.n1 > 0 GROUP BY w.image_id),
pmom AS MATERIALIZED (
  SELECT image_id,
         CAST(sum(CASE WHEN yt = 1 THEN c ELSE 0 END) AS BIGINT) AS sx,
         CAST(sum(c * vp) AS BIGINT) AS sy,
         CAST(sum(c * vp * vp) AS BIGINT) AS syy,
         CAST(sum(CASE WHEN yt = 1 THEN c * vp ELSE 0 END) AS BIGINT)
           AS sxy,
         CAST(sum(c * (vp - yt * pmax) * (vp - yt * pmax)) AS BIGINT)
           AS sd2,
         max(pmax) AS pmax
  FROM pgy GROUP BY image_id),
plls AS (
  SELECT image_id,
         CAST(sum(c * CAST(floor((lnv - lnpm2) * 1073741824.0)
                           AS BIGINT)) AS BIGINT) AS sq
  FROM (SELECT t.*, p.lnpm2
        FROM (SELECT image_id, vp, yt, c, lnv
              FROM ({ln_chain_sql(_PROB_LN_TALL, "arg", "lnv")})
              WHERE vp >= 0) t
        JOIN (SELECT image_id, lnv AS lnpm2
              FROM ({ln_chain_sql(_PROB_LN_TALL, "arg", "lnv")})
              WHERE vp < 0) p ON p.image_id = t.image_id)
  GROUP BY image_id)
SELECT i.image_id, i.n, i.n1, i.n0,
  CAST(CASE WHEN i.n1 = 0 OR i.n0 = 0 THEN -1 ELSE floor(
    (CAST(i.two_r1 - i.n1 * (i.n1 + 1) AS DOUBLE)
     / CAST(2 * i.n1 * i.n0 AS DOUBLE)) * {_RQ}) END AS BIGINT) AS auc_q,
  CAST(CASE WHEN (CAST(i.n AS DOUBLE) * CAST(m.sx AS DOUBLE)
                  - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)) = 0
              OR (CAST(i.n AS DOUBLE) * CAST(m.syy AS DOUBLE)
                  - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)) = 0
       THEN -1 ELSE floor(
         (CAST(i.n * m.sxy - m.sx * m.sy AS DOUBLE)
          / sqrt(CAST(i.n * m.sx - m.sx * m.sx AS DOUBLE)
                 * CAST(i.n * m.syy - m.sy * m.sy AS DOUBLE)))
         * {_RQ}) END AS BIGINT) AS pbr_q,
  CAST(coalesce(a.ap_q30, -1) AS BIGINT) AS ap_q30,
  CAST(floor((CAST(m.sd2 AS DOUBLE)
              / CAST(m.pmax * m.pmax * i.n AS DOUBLE)) * {_RQ})
       AS BIGINT) AS brier_q,
  CAST(-l.sq AS BIGINT) AS logloss_q30
FROM pimg i
JOIN pmom m ON m.image_id = i.image_id
JOIN plls l ON l.image_id = i.image_id
LEFT JOIN pap a ON a.image_id = i.image_id
"""


ORACLES["prob_scores"] = _prob_scores_oracle()


# ---- breusch_pagan -------------------------------------------------------
_BP_C99 = _dlit(6.6348966010212145)   # chi2.isf(0.01, 1)
_BP_C95 = _dlit(3.841458820694124)    # chi2.isf(0.05, 1)

ORACLES["breusch_pagan"] = f"""
{_PREFIX},
{_BST_PX},
bpx AS (SELECT image_id, v % 8 AS x8, vp AS yv FROM bstv),
bpm AS MATERIALIZED (
  SELECT image_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x8) AS BIGINT) AS sx,
         CAST(sum(x8 * x8) AS BIGINT) AS sxx,
         CAST(sum(yv) AS BIGINT) AS sy,
         CAST(sum(x8 * yv) AS BIGINT) AS sxy
  FROM bpx GROUP BY image_id),
bpd AS MATERIALIZED (
  SELECT image_id, n, sx, sxx,
         n * sxx - sx * sx AS d,
         n * sxy - sx * sy AS b_num,
         sy * sxx - sx * sxy AS a_num
  FROM bpm),
bpr AS MATERIALIZED (
  SELECT p.image_id, p.x8,
         {_fdv("16 * (p.yv * d.d - d.a_num - d.b_num * p.x8)", "d.d")}
           AS r16
  FROM bpx p JOIN bpd d ON d.image_id = p.image_id WHERE d.d != 0),
bpt AS MATERIALIZED (
  SELECT image_id, x8, r16, (r16 * r16) // 1048576 AS t FROM bpr),
bpam AS MATERIALIZED (
  SELECT image_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x8) AS BIGINT) AS sx,
         CAST(sum(x8 * x8) AS BIGINT) AS sxx,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(x8 * t) AS BIGINT) AS sxt,
         CAST(sum(t * t) AS BIGINT) AS stt,
         CAST(sum(r16 * r16) AS BIGINT) AS ssr16
  FROM bpt GROUP BY image_id),
bpad AS MATERIALIZED (
  SELECT image_id, n, st, stt, ssr16,
         n * sxx - sx * sx AS da,
         n * sxt - sx * st AS ba,
         st * sxx - sx * sxt AS aa,
         n * stt - st * st AS sst_num
  FROM bpam),
bpar AS (
  SELECT t.image_id,
         {_fdv("16 * (t.t * d.da - d.aa - d.ba * t.x8)", "d.da")} AS ra
  FROM bpt t JOIN bpad d ON d.image_id = t.image_id WHERE d.da != 0),
bpssa AS MATERIALIZED (
  SELECT image_id, CAST(sum(ra * ra) AS BIGINT) AS ssr_a
  FROM bpar GROUP BY image_id),
bplm AS (
  SELECT d.image_id, d.n, d.ssr16, d.sst_num,
         CASE WHEN d.sst_num != 0 THEN
           CAST(d.n AS DOUBLE)
           * (CAST(1 AS DOUBLE)
              - (CAST(d.n AS DOUBLE) * CAST(a.ssr_a AS DOUBLE))
                / (CAST(256 AS DOUBLE) * CAST(d.sst_num AS DOUBLE)))
         END AS lm
  FROM bpad d JOIN bpssa a ON a.image_id = d.image_id)
SELECT m.image_id,
       CAST(m.n AS BIGINT) AS n,
       CAST(CASE WHEN l.image_id IS NULL THEN -1
                 ELSE l.ssr16 END AS BIGINT) AS ssr16,
       CAST(CASE WHEN l.lm IS NULL THEN -1
                 ELSE floor(l.lm * {_RQ}) END AS BIGINT) AS lm_q,
       CAST(CASE WHEN l.lm IS NULL THEN -1
                 WHEN l.lm > {_BP_C99} THEN 2
                 WHEN l.lm > {_BP_C95} THEN 1
                 ELSE 0 END AS BIGINT) AS ci_class
FROM bpm m
LEFT JOIN bplm l ON l.image_id = m.image_id
"""


# ---- vif_scores ----------------------------------------------------------
def _det3_sql(m) -> str:
    """Exact 3x3 integer determinant text; m is a 3x3 of SQL exprs."""
    (a, b, c), (d, e, f), (g, h, i) = m
    return (f"(({a}) * (({e}) * ({i}) - ({f}) * ({h}))"
            f" - ({b}) * (({d}) * ({i}) - ({f}) * ({g}))"
            f" + ({c}) * (({d}) * ({h}) - ({e}) * ({g})))")


def _vif_oracle() -> str:
    det = _det3_sql([["n", "s1", "s2"], ["s1", "s11", "s12"],
                     ["s2", "s12", "s22"]])
    d0 = _det3_sql([["sy", "s1", "s2"], ["s1y", "s11", "s12"],
                    ["s2y", "s12", "s22"]])
    d1 = _det3_sql([["n", "sy", "s2"], ["s1", "s1y", "s12"],
                    ["s2", "s2y", "s22"]])
    d2 = _det3_sql([["n", "s1", "sy"], ["s1", "s11", "s1y"],
                    ["s2", "s12", "s2y"]])
    return f"""
{_PREFIX},
{_BST_PX},
vfc AS (SELECT image_id, v % 4 AS c1, (v // 4) % 4 AS c2,
               ((v % 4) + ((v // 4) % 4)) // 2 + (v // 16) % 2 AS c3
        FROM bstv WHERE x % 3 = 0 AND y % 3 = 0),
vroles AS (
  SELECT image_id, 1 AS col_id, c1 AS yv, c2 AS x1, c3 AS x2 FROM vfc
  UNION ALL
  SELECT image_id, 2, c2, c1, c3 FROM vfc
  UNION ALL
  SELECT image_id, 3, c3, c1, c2 FROM vfc),
vmom AS MATERIALIZED (
  SELECT image_id, col_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(yv) AS BIGINT) AS sy,
         CAST(sum(yv * yv) AS BIGINT) AS syy,
         CAST(sum(x1 * yv) AS BIGINT) AS s1y,
         CAST(sum(x2 * yv) AS BIGINT) AS s2y
  FROM vroles GROUP BY image_id, col_id),
vdet AS MATERIALIZED (
  SELECT image_id, col_id, n, sy, syy,
         {det} AS det, {d0} AS d0, {d1} AS d1, {d2} AS d2,
         n * syy - sy * sy AS sst_num
  FROM vmom),
vres AS (
  SELECT r.image_id, r.col_id,
         {_fdv("16 * (r.yv * d.det - d.d0 - d.d1 * r.x1"
               " - d.d2 * r.x2)", "d.det")} AS r16
  FROM vroles r
  JOIN vdet d ON d.image_id = r.image_id AND d.col_id = r.col_id
  WHERE d.det != 0),
vssr AS MATERIALIZED (
  SELECT image_id, col_id, CAST(sum(r16 * r16) AS BIGINT) AS ssr16
  FROM vres GROUP BY image_id, col_id)
SELECT d.image_id, CAST(d.col_id AS BIGINT) AS col_id,
       CAST(d.n AS BIGINT) AS n,
       CAST(CASE WHEN d.det = 0 OR d.sst_num = 0 THEN -1
                 ELSE s.ssr16 END AS BIGINT) AS ssr16,
       CAST(CASE WHEN d.det = 0 OR d.sst_num = 0 THEN -1
                 WHEN s.ssr16 = 0 THEN 0
                 ELSE floor((CAST(1 AS DOUBLE)
                   / ((CAST(d.n AS DOUBLE) * CAST(s.ssr16 AS DOUBLE))
                      / (CAST(256 AS DOUBLE)
                         * CAST(d.sst_num AS DOUBLE)))) * {_RQ})
                 END AS BIGINT) AS vif_q
FROM vdet d
LEFT JOIN vssr s ON s.image_id = d.image_id AND s.col_id = d.col_id
"""


ORACLES["vif_scores"] = _vif_oracle()


# ---- hist_nbins ----------------------------------------------------------
ORACLES["hist_nbins"] = f"""
{_PREFIX},
{_BST_PX},
hsr AS (SELECT image_id, v,
               row_number() OVER (PARTITION BY image_id ORDER BY v)
                 AS rn,
               count(*) OVER (PARTITION BY image_id) AS n
        FROM bstv),
hpq AS MATERIALIZED (
  SELECT image_id, CAST(max(n) AS BIGINT) AS n,
         CAST(min(v) AS BIGINT) AS vmin,
         CAST(max(v) AS BIGINT) AS vmax,
         CAST(max(CASE WHEN rn = (1 * (n - 1)) // 4 + 1 THEN v END)
              AS BIGINT) AS a25,
         CAST(max(CASE WHEN rn = least((1 * (n - 1)) // 4 + 2, n)
                  THEN v END) AS BIGINT) AS b25,
         CAST(max(CASE WHEN rn = (2 * (n - 1)) // 4 + 1 THEN v END)
              AS BIGINT) AS a50,
         CAST(max(CASE WHEN rn = least((2 * (n - 1)) // 4 + 2, n)
                  THEN v END) AS BIGINT) AS b50,
         CAST(max(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN v END)
              AS BIGINT) AS a75,
         CAST(max(CASE WHEN rn = least((3 * (n - 1)) // 4 + 2, n)
                  THEN v END) AS BIGINT) AS b75
  FROM hsr GROUP BY image_id),
hq4 AS MATERIALIZED (
  SELECT image_id, n, vmin, vmax,
         4 * a25 + (b25 - a25) * ((1 * (n - 1)) - 4 * ((1 * (n - 1)) // 4))
           AS q25_4,
         4 * a50 + (b50 - a50) * ((2 * (n - 1)) - 4 * ((2 * (n - 1)) // 4))
           AS q50_4,
         4 * a75 + (b75 - a75) * ((3 * (n - 1)) - 4 * ((3 * (n - 1)) // 4))
           AS q75_4
  FROM hpq),
hkd AS (
  SELECT *, q75_4 - q25_4 AS iqr4,
         8 * (vmax - vmin) * (vmax - vmin) * (vmax - vmin) * n AS a3n
  FROM hq4),
hks AS (
  SELECT h.*,
         CASE WHEN h.iqr4 > 0 THEN (
           SELECT max(cand.k) FROM (
             SELECT CAST(floor(pow(CAST(h.a3n AS DOUBLE),
                                   CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
                               / CAST(h.iqr4 AS DOUBLE)) AS BIGINT)
                    + u.o AS k
             FROM (SELECT unnest(generate_series(-6, 8)) AS o) u) cand
           WHERE cand.k >= 0
             AND (cand.k * h.iqr4) * (cand.k * h.iqr4) * (cand.k * h.iqr4)
                 <= h.a3n)
         END AS kmax
  FROM hkd h)
SELECT image_id, n, vmin, vmax,
       CAST(q25_4 AS BIGINT) AS q25_4, CAST(q75_4 AS BIGINT) AS q75_4,
       CAST(CASE WHEN iqr4 <= 0 THEN -1 ELSE kmax + 2 END AS BIGINT)
         AS n_bins,
       CAST(CASE WHEN iqr4 <= 0 THEN -1 ELSE floor(
         (CAST(iqr4 * iqr4 * iqr4 AS DOUBLE)
          / (CAST(8 AS DOUBLE) * CAST(n AS DOUBLE))) * {_RQ})
         END AS BIGINT) AS bw3_q,
       CAST(4 * vmin + q25_4 AS BIGINT) AS ca1_8,
       CAST(q25_4 + q50_4 AS BIGINT) AS ca2_8,
       CAST(q50_4 + q75_4 AS BIGINT) AS ca3_8,
       CAST(q75_4 + 4 * vmax AS BIGINT) AS ca4_8,
       CAST(floor((sqrt(CAST((4 * vmin) * q25_4 AS DOUBLE))
                   / CAST(4 AS DOUBLE)) * {_RQ}) AS BIGINT) AS cg1_q,
       CAST(floor((sqrt(CAST(q25_4 * q50_4 AS DOUBLE))
                   / CAST(4 AS DOUBLE)) * {_RQ}) AS BIGINT) AS cg2_q,
       CAST(floor((sqrt(CAST(q50_4 * q75_4 AS DOUBLE))
                   / CAST(4 AS DOUBLE)) * {_RQ}) AS BIGINT) AS cg3_q,
       CAST(floor((sqrt(CAST(q75_4 * (4 * vmax) AS DOUBLE))
                   / CAST(4 AS DOUBLE)) * {_RQ}) AS BIGINT) AS cg4_q
FROM hks
"""


# ------------------------------------------------------------------- tools.utm
# zone ladders shared verbatim with the engine (geo/utmzones.py);
# eastings via the polynomial-trig TM forward (bit-exact, see
# reproj_utm above).
from .geo.utmzones import zone_exprs as _uz_exprs  # noqa: E402
from .geo.utmzones import zone_number_expr as _uz_zone  # noqa: E402

_UZ_COLS = ", ".join(f"{e} AS {k}"
                     for k, e in _uz_exprs("lon", "lat").items())

ORACLES["utm_zone_pts"] = f"""
{_PREFIX},
upts AS (SELECT qid * 2 AS pid, qlon AS lon, qlat AS lat FROM qpts
         UNION ALL
         SELECT qid * 2 + 1, qlon,
                qlat / CAST(5 AS DOUBLE) + CAST(76 AS DOUBLE)
         FROM qpts)
SELECT CAST(pid AS BIGINT) AS pid, lon, lat, {_UZ_COLS}
FROM upts
"""

ORACLES["utm_zone_mode"] = f"""
{_PREFIX},
uz AS (SELECT {_uz_zone("qlon", "qlat")} AS zone FROM qpts),
uc AS MATERIALIZED (SELECT zone, count(*) AS c FROM uz GROUP BY zone),
ub AS (SELECT min(zone) AS mode_zone, max(c) AS n_modal
       FROM uc WHERE c = (SELECT max(c) FROM uc)),
ut AS (SELECT count(*) AS n_pts, count(DISTINCT zone) AS n_zones
       FROM uz)
SELECT CAST(mode_zone AS BIGINT) AS mode_zone,
       CAST(n_modal AS BIGINT) AS n_modal,
       CAST(n_pts AS BIGINT) AS n_pts,
       CAST(n_zones AS BIGINT) AS n_zones
FROM ub, ut
"""

ORACLES["utm_bbox_split"] = f"""
{_PREFIX},
ubb AS (SELECT min(qlon) AS x0, max(qlon) AS x1,
               min(qlat) AS y0, max(qlat) AS y1 FROM qpts),
uzc AS (SELECT *, {_uz_zone("x0", "y1")} AS z_tl,
               {_uz_zone("x1", "y1")} AS z_tr,
               {_uz_zone("x1", "y0")} AS z_br,
               {_uz_zone("x0", "y0")} AS z_bl
        FROM ubb),
uzr AS (SELECT *, least(z_tl, z_tr, z_br, z_bl) AS zmin,
               greatest(z_tl, z_tr, z_br, z_bl) AS zmax
        FROM uzc),
uex AS (SELECT *, unnest(generate_series(zmin, zmax)) AS zone
        FROM uzr)
SELECT CAST(zone AS BIGINT) AS zone,
       CASE WHEN x0 > ((zone * 6.0) - 6.0) - 180.0 THEN x0
            ELSE ((zone * 6.0) - 6.0) - 180.0 END AS x_min,
       CASE WHEN x1 < (zone * 6.0) - 180.0 THEN x1
            ELSE (zone * 6.0) - 180.0 END AS x_max,
       y0 AS y_min, y1 AS y_max
FROM uex
"""

_UE_LO, _ = _utm("CAST(-180 AS DOUBLE)", "lat", 1)
_UE_HI, _ = _utm("CAST(-174 AS DOUBLE)", "lat", 1)

ORACLES["utm_eastings"] = f"""
{_PREFIX},
ulats AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                 CAST(n_nationkey * 5 - 60 AS DOUBLE) AS lat
          FROM nation)
SELECT k, lat, {_UE_LO} AS min_easting, {_UE_HI} AS max_easting
FROM ulats
"""


# ------------------------------------------------------------------ calc_ppi
# pixel purity index twin (operators/specunmix.ppi_counts): pinned
# integer projections u[k][b] = ((k*31+b*7)%17)-8 over three derived
# bands; arg-extremes via packed (score, index) integer keys so the
# first-index tie rule is exact (|s| <= 24552 < 2^15, idx < 2^32).
from .operators.specunmix import PPI_NPROJ as _PPI_K  # noqa: E402


def _ppi_oracle() -> str:
    from .operators.specunmix import ppi_proj
    score = " + ".join(
        f"(CASE k WHEN {k} THEN "
        + " + ".join(f"({ppi_proj(k, b)} * b{b})" for b in range(3))
        + " ELSE 0 END)"
        for k in range(_PPI_K))
    return f"""
{_PREFIX},
qxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 37 = 0),
qxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM qxs),
qbv AS (SELECT image_id, w, CAST(y AS BIGINT) * w + x AS idx,
               {_PXV} AS b0,
               (({_PXV}) * 7 + 3) % {_BST_PM} AS b1,
               (({_PXV}) * 13 + 5) % {_BST_PM} AS b2
        FROM qxy),
qsc AS (SELECT image_id, w, idx, k, ({score}) AS s
        FROM qbv, (SELECT unnest(generate_series(0, {_PPI_K - 1}))
                   AS k)),
qext AS MATERIALIZED (
  SELECT image_id, max(w) AS w, k,
         min((s + 32768) * 4294967296 + idx) AS kmin,
         max((s + 32768) * 4294967296 + (4294967295 - idx)) AS kmax
  FROM qsc GROUP BY image_id, k),
qhits AS (
  SELECT image_id, w, kmin % 4294967296 AS idx FROM qext
  UNION ALL
  SELECT image_id, w, 4294967295 - (kmax % 4294967296) FROM qext)
SELECT image_id, CAST(idx % w AS BIGINT) AS x,
       CAST(idx // w AS BIGINT) AS y,
       CAST(count(*) AS BIGINT) AS ppi_count
FROM qhits GROUP BY image_id, w, idx
"""


ORACLES["ppi_counts"] = _ppi_oracle()


# --------------------------------------- imagecalc buffer / msk-hist / fill
ORACLES["buffer_pxl_vals"] = f"""
{_PREFIX},
ubxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 37 = 0),
ubpxy AS MATERIALIZED (SELECT *,
               unnest(generate_series(0, h - 1)) AS y
        FROM ubxs),
ubtg AS (SELECT image_id, x AS tx, y AS ty FROM ubpxy
         WHERE {_PXV} IN (42, 99)),
ubmin AS (SELECT p.image_id, p.x, p.y,
                min((p.x - t.tx) * (p.x - t.tx)
                    + (p.y - t.ty) * (p.y - t.ty)) AS d2
         FROM ubpxy p JOIN ubtg t ON t.image_id = p.image_id
         GROUP BY p.image_id, p.x, p.y),
ubagg AS (SELECT image_id,
                CAST(sum(CASE WHEN d2 <= 25 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_buf,
                CAST(sum(CASE WHEN d2 <= 25 THEN d2 ELSE 0 END)
                     AS BIGINT) AS sum_d2_in
         FROM ubmin GROUP BY image_id),
ubsrc AS (SELECT image_id, CAST(count(*) AS BIGINT) AS n_src
          FROM ubtg GROUP BY image_id),
ubimg AS (SELECT image_id, CAST(w AS BIGINT) * h AS n_pix
          FROM img WHERE id % 37 = 0)
SELECT i.image_id, i.n_pix,
       coalesce(s.n_src, 0) AS n_src,
       coalesce(a.n_buf, 0) AS n_buf,
       coalesce(a.sum_d2_in, 0) AS sum_d2_in
FROM ubimg i
LEFT JOIN ubsrc s ON s.image_id = i.image_id
LEFT JOIN ubagg a ON a.image_id = i.image_id
"""

ORACLES["msk_val_hists"] = f"""
{_PREFIX},
mvxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 37 = 0),
mvpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM mvxs),
mvb AS (SELECT image_id,
               (({_PXV}) * 7 + 3) % {_BST_PM} AS b,
               (({_PXV}) // 64) % 8 AS m
        FROM mvpxy)
SELECT image_id, CAST(m AS BIGINT) AS msk_val,
       CAST(b // 32 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS cnt
FROM mvb WHERE m != 0
GROUP BY image_id, m, b // 32
"""

# fill_regions_knn: fill lattice (x+y)%9 == 0; candidates = the 3x3
# ring (all reference pixels by construction); rank by (d2, flat idx),
# keep k=5, mode with smallest-value ties.
ORACLES["fill_regions_knn"] = f"""
{_PREFIX},
fkxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 37 = 0),
fkpxy AS MATERIALIZED (SELECT *,
               unnest(generate_series(0, h - 1)) AS y
        FROM fkxs),
fkfill AS (SELECT image_id, id, w, h, fmt, x, y FROM fkpxy
           WHERE (x + y) % 9 = 0),
fkoff AS (SELECT dx, dy, dx * dx + dy * dy AS d2
          FROM (SELECT unnest([-1, 0, 1]) AS dx),
               (SELECT unnest([-1, 0, 1]) AS dy)
          WHERE NOT (dx = 0 AND dy = 0)),
fkcand AS (
  SELECT f.image_id, f.x, f.y, o.d2,
         CAST(f.y + o.dy AS BIGINT) * f.w + (f.x + o.dx) AS nidx,
         {synth.pixel_value_sql("f.id", "(f.x + o.dx)",
                                "(f.y + o.dy)", "f.fmt")} AS nv
  FROM fkfill f, fkoff o
  WHERE f.x + o.dx >= 0 AND f.x + o.dx < f.w
    AND f.y + o.dy >= 0 AND f.y + o.dy < f.h),
fkrank AS (
  SELECT *, row_number() OVER (PARTITION BY image_id, x, y
                               ORDER BY d2, nidx) AS r
  FROM fkcand),
fktop AS MATERIALIZED (SELECT * FROM fkrank WHERE r <= 5),
fkmode AS (
  SELECT image_id, x, y, nv, count(*) AS c
  FROM fktop GROUP BY image_id, x, y, nv),
fkpick AS (
  SELECT image_id, x, y, nv AS fill_v,
         row_number() OVER (PARTITION BY image_id, x, y
                            ORDER BY c DESC, nv ASC) AS r
  FROM fkmode),
fkd2 AS (
  SELECT image_id, x, y, CAST(sum(d2) AS BIGINT) AS kd2
  FROM fktop GROUP BY image_id, x, y),
fkfin AS (
  SELECT p.image_id, p.fill_v, d.kd2
  FROM fkpick p JOIN fkd2 d
    ON d.image_id = p.image_id AND d.x = p.x AND d.y = p.y
  WHERE p.r = 1)
SELECT image_id, CAST(count(*) AS BIGINT) AS n_fill,
       CAST(sum(fill_v) AS BIGINT) AS sum_fill,
       CAST(min(fill_v) AS BIGINT) AS min_fill,
       CAST(max(fill_v) AS BIGINT) AS max_fill,
       CAST(sum(kd2) AS BIGINT) AS sum_kd2
FROM fkfin GROUP BY image_id
"""


# --------------------------------------------------- fill_class_timeseries
def _tsf_oracle() -> str:
    from .operators.classification import TSF_ITERS, TSF_T
    init = ", ".join(
        f"(CASE WHEN (v * 7 + {t} * 13 + x + y) % 5 = 0 THEN 0"
        f" ELSE ((v + {t} * 29) // 64) % 4 + 1 END) AS c{t}i"
        for t in range(TSF_T))
    work = ", ".join(f"c{t}i AS c{t}" for t in range(TSF_T))
    sql = (f"SELECT image_id, {init} FROM bstv")
    sql = f"SELECT *, {work} FROM ({sql})"
    for _ in range(TSF_ITERS):
        for n in range(TSF_T - 1):                  # forward
            sql = (f"SELECT * REPLACE (CASE WHEN c{n} = 0 THEN c{n+1}"
                   f" ELSE c{n} END AS c{n}) FROM ({sql})")
        for n in range(TSF_T - 1, 0, -1):           # backward
            sql = (f"SELECT * REPLACE (CASE WHEN c{n} = 0 THEN c{n-1}"
                   f" ELSE c{n} END AS c{n}) FROM ({sql})")
        sql = (f"SELECT * REPLACE (CASE WHEN c0 = 0 THEN c1"
               f" ELSE c0 END AS c0) FROM ({sql})")
        last, prev = TSF_T - 1, TSF_T - 2
        sql = (f"SELECT * REPLACE (CASE WHEN c{last} = 0 THEN c{prev}"
               f" ELSE c{last} END AS c{last}) FROM ({sql})")
    aggs = ", ".join(
        f"CAST(sum(CASE WHEN c{t}i = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS nb{t}, "
        f"CAST(sum(CASE WHEN c{t} = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS na{t}, "
        f"CAST(sum(c{t}) AS BIGINT) AS sa{t}"
        for t in range(TSF_T))
    rows = " UNION ALL ".join(
        f"SELECT image_id, CAST({t} AS BIGINT) AS t,"
        f" nb{t} AS n_nodata_before, na{t} AS n_nodata_after,"
        f" sa{t} AS sum_after FROM tfagg"
        for t in range(TSF_T))
    return f"""
{_PREFIX},
{_BST_PX},
tfagg AS MATERIALIZED (SELECT image_id, {aggs} FROM ({sql})
                       GROUP BY image_id)
{rows}
"""


ORACLES["class_ts_fill"] = _tsf_oracle()


# ---------------------------------------- vectorgeoms small-op family
from .operators.geomtransforms import ring_area2_sql as _ra2b  # noqa: E402

_PHW_D, _PHH_D = "(zxmax - zxmin)", "(zymax - zymin)"
_PH1_D = (f"[[zxmin + {_PHW_D}*0.25, zymin + {_PHH_D}*0.25], "
          f"[zxmin + {_PHW_D}*0.5, zymin + {_PHH_D}*0.25], "
          f"[zxmin + {_PHW_D}*0.5, zymin + {_PHH_D}*0.5], "
          f"[zxmin + {_PHW_D}*0.25, zymin + {_PHH_D}*0.5]]")
_PH2_D = (f"[[zxmin + {_PHW_D}*0.1, zymin + {_PHH_D}*0.1], "
          f"[zxmin + {_PHW_D}*0.12, zymin + {_PHH_D}*0.1], "
          f"[zxmin + {_PHW_D}*0.12, zymin + {_PHH_D}*0.12], "
          f"[zxmin + {_PHW_D}*0.1, zymin + {_PHH_D}*0.12]]")
_PA1_D = f"(abs({_ra2b('duckdb', _PH1_D)}) / 2.0)"
_PA2_D = f"(abs({_ra2b('duckdb', _PH2_D)}) / 2.0)"

ORACLES["poly_hole_area"] = f"""
{_PREFIX}
SELECT zone_id, CAST(2 AS BIGINT) AS n_holes,
       {_PA1_D} AS hole_area_1,
       {_PA2_D} AS hole_area_2,
       ({_PA1_D} + {_PA2_D}) AS sum_hole_area,
       ({_PHW_D} * {_PHH_D}) AS outer_area,
       (({_PHW_D} * {_PHH_D}) - ({_PA1_D} + {_PA2_D})) AS net_area,
       CAST(CASE WHEN (({_PHW_D} * {_PHH_D}) - ({_PA1_D} + {_PA2_D}))
                 >= CAST(30.0 AS DOUBLE)
            THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM zones
"""

_ZC = (("zxmin", "zymin"), ("zxmax", "zymin"),
       ("zxmax", "zymax"), ("zxmin", "zymax"))
_SEG_ROWS = " UNION ALL ".join(
    f"SELECT zone_id, CAST({i} AS BIGINT) AS vtx_idx, "
    f"{_ZC[i][0]} AS px, {_ZC[i][1]} AS py, "
    f"{_ZC[(i + 1) % 4][0]} AS nx, {_ZC[(i + 1) % 4][1]} AS ny "
    f"FROM zones"
    for i in range(4))

ORACLES["vec_layer_pts"] = f"""
{_PREFIX}
{_SEG_ROWS}
"""

ORACLES["clip_vec_lyr"] = f"""
{_PREFIX},
clp AS (SELECT zone_id,
               greatest(zxmin, CAST(0.0 AS DOUBLE)) AS cxmin,
               least(zxmax, CAST(40.0 AS DOUBLE)) AS cxmax,
               greatest(zymin, CAST(30.0 AS DOUBLE)) AS cymin,
               least(zymax, CAST(60.0 AS DOUBLE)) AS cymax
        FROM zones)
SELECT *, (cxmax - cxmin) * (cymax - cymin) AS clip_area
FROM clp WHERE cxmin < cxmax AND cymin < cymax
"""


def _bbox_reproj_oracle() -> str:
    corners = {"tl": ("zxmin", "zymax"), "tr": ("zxmax", "zymax"),
               "br": ("zxmax", "zymin"), "bl": ("zxmin", "zymin")}
    ex = {}
    for tag, (cx, cy) in corners.items():
        e, n = _utm(cx, cy, 30)
        ex[f"{tag}_x"], ex[f"{tag}_y"] = e, n
    return f"""
{_PREFIX},
bcz AS (SELECT zone_id, zxmin, zxmax, zymin, zymax,
               (zxmin + (zxmax - zxmin) / 2) AS centre_x,
               (zymin + (zymax - zymin) / 2) AS centre_y,
               CAST(CASE WHEN zxmin = CAST(0.0 AS DOUBLE)
                          AND zxmax = CAST(40.0 AS DOUBLE)
                          AND zymin = CAST(30.0 AS DOUBLE)
                          AND zymax = CAST(60.0 AS DOUBLE)
                    THEN 1 ELSE 0 END AS BIGINT) AS eq_win,
               greatest(zxmin, CAST(0.0 AS DOUBLE)) AS ixmin,
               least(zxmax, CAST(40.0 AS DOUBLE)) AS ixmax,
               greatest(zymin, CAST(30.0 AS DOUBLE)) AS iymin,
               least(zymax, CAST(60.0 AS DOUBLE)) AS iymax
        FROM zones),
bcp AS (SELECT *, {ex['tl_x']} AS tl_x, {ex['tl_y']} AS tl_y,
               {ex['tr_x']} AS tr_x, {ex['tr_y']} AS tr_y,
               {ex['br_x']} AS br_x, {ex['br_y']} AS br_y,
               {ex['bl_x']} AS bl_x, {ex['bl_y']} AS bl_y
        FROM bcz)
SELECT zone_id, centre_x, centre_y, eq_win,
       ixmin, ixmax, iymin, iymax,
       least(tl_x, bl_x) AS pminx,
       greatest(br_x, tr_x) AS pmaxx,
       least(br_y, bl_y) AS pminy,
       greatest(tl_y, tr_y) AS pmaxy
FROM bcp
"""


ORACLES["bbox_reproj"] = _bbox_reproj_oracle()


# ------------------------------------------------- imagecalc utility quartet
_RC_KEEP = ("CASE WHEN v = 3 THEN 103 WHEN v = 7 THEN 0"
            " WHEN v = 250 THEN 11 ELSE v END")
_RC_DROP = ("CASE WHEN v = 3 THEN 103 WHEN v = 7 THEN 0"
            " WHEN v = 250 THEN 11 ELSE 0 END")

ORACLES["recode_raster"] = f"""
{_PREFIX},
{_BST_PX},
rcp AS (SELECT image_id, v, {_RC_KEEP} AS keepv, {_RC_DROP} AS dropv
        FROM bstv)
SELECT image_id, CAST(count(*) AS BIGINT) AS n_pix,
       CAST(sum(CASE WHEN v IN (3, 7, 250) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_recoded,
       CAST(sum(keepv) AS BIGINT) AS sum_keep,
       CAST(sum(dropv) AS BIGINT) AS sum_drop,
       CAST(sum(CASE WHEN dropv <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_drop_nonzero
FROM rcp GROUP BY image_id
"""

ORACLES["band_normalise"] = f"""
{_PREFIX},
{_BST_PX},
bnm AS (SELECT image_id,
               CAST(min(CASE WHEN v <> 7 THEN v END) AS BIGINT) AS mn,
               CAST(max(CASE WHEN v <> 7 THEN v END) AS BIGINT) AS mx
        FROM bstv GROUP BY image_id),
bnq AS (SELECT b.image_id, b.v, m.mn, m.mx,
               CASE WHEN b.v = 7 THEN CAST(0.0 AS DOUBLE)
                    WHEN m.mx = m.mn THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(b.v - m.mn AS DOUBLE)
                         / CAST(m.mx - m.mn AS DOUBLE) END AS nrm
        FROM bstv b JOIN bnm m USING (image_id))
SELECT image_id, min(mn) AS v_min, max(mx) AS v_max,
       CAST(sum(CASE WHEN v = 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nodata,
       CAST(sum(CAST(floor(nrm * CAST(1073741824.0 AS DOUBLE))
                AS BIGINT)) AS BIGINT) AS sum_norm_q
FROM bnq GROUP BY image_id
"""

# rescale_img_pxl_vals: the RIOS expression tree mirrored verbatim
# (in_min 0, in_max 1024, out_min 600, out_max 2000, nodata 7 -> -9999)
_RIOS_O0 = ("((((CAST(v AS DOUBLE) - CAST(0.0 AS DOUBLE))"
            " / (((CAST(v AS DOUBLE) - CAST(1024.0 AS DOUBLE))"
            " - CAST(v AS DOUBLE)) - CAST(0.0 AS DOUBLE)))"
            " * (((CAST(v AS DOUBLE) - CAST(2000.0 AS DOUBLE))"
            " - CAST(v AS DOUBLE)) - CAST(600.0 AS DOUBLE)))"
            " + CAST(v AS DOUBLE)) - CAST(600.0 AS DOUBLE)")

ORACLES["rescale_rios"] = f"""
{_PREFIX},
{_BST_PX},
rr0 AS (SELECT image_id, v,
               CASE WHEN v = 7 THEN CAST(-9999.0 AS DOUBLE)
                    ELSE {_RIOS_O0} END AS o1
        FROM bstv),
rr1 AS (SELECT image_id, v, o1,
               CASE WHEN o1 <> CAST(-9999.0 AS DOUBLE)
                     AND o1 < CAST(600.0 AS DOUBLE) THEN 1 ELSE 0
               END AS is_lo
        FROM rr0),
rr2 AS (SELECT image_id, v, is_lo,
               CASE WHEN is_lo = 1 THEN CAST(600.0 AS DOUBLE)
                    ELSE o1 END AS o2
        FROM rr1),
rr3 AS (SELECT image_id, v, is_lo,
               CASE WHEN o2 <> CAST(-9999.0 AS DOUBLE)
                     AND o2 > CAST(2000.0 AS DOUBLE) THEN 1 ELSE 0
               END AS is_hi,
               CASE WHEN o2 <> CAST(-9999.0 AS DOUBLE)
                     AND o2 > CAST(2000.0 AS DOUBLE)
                    THEN CAST(2000.0 AS DOUBLE) ELSE o2 END AS o3
        FROM rr2)
SELECT image_id,
       CAST(sum(CASE WHEN v = 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nodata,
       CAST(sum(is_lo) AS BIGINT) AS n_clamp_lo,
       CAST(sum(is_hi) AS BIGINT) AS n_clamp_hi,
       CAST(sum(CAST(floor(o3 * CAST(1048576.0 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS sum_out_q
FROM rr3 GROUP BY image_id
"""

# calc_img_basic_stats_for_ref_region: T=4 derived planes, nanmean /
# nanstd pinned as S/n and sqrt(n*SS - S*S)/n
ORACLES["ref_region_stats"] = f"""
{_PREFIX},
{_BST_PX},
rgt AS (SELECT image_id, id, x, y, v, pmax,
               unnest(generate_series(0, 3)) AS t
        FROM bstv),
rgv AS (SELECT image_id, id, x, y,
               CASE WHEN ((v + x + y) % 13 = 0)
                      OR ((v * 3 + t * 5) % 6 < 2) THEN NULL
                    ELSE (v * (3 + t) + t * 17) % pmax END AS pv
        FROM rgt),
rga AS MATERIALIZED (
  SELECT image_id, id, x, y,
         CAST(count(pv) AS BIGINT) AS n,
         CAST(coalesce(sum(pv), 0) AS BIGINT) AS s,
         CAST(coalesce(sum(pv * pv), 0) AS BIGINT) AS ss
  FROM rgv GROUP BY image_id, id, x, y),
rgm AS (SELECT image_id, n,
               CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                    ELSE CAST(-1.0 AS DOUBLE) END AS mean,
               CASE WHEN n > 0
                    THEN sqrt(CAST(n * ss - s * s AS DOUBLE))
                         / CAST(n AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS sd
        FROM rga)
SELECT image_id,
       CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_allnodata,
       CAST(sum(n) AS BIGINT) AS sum_n,
       CAST(sum(CAST(floor(mean * CAST(1048576.0 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS sum_mean_q,
       CAST(sum(CAST(floor(sd * CAST(1048576.0 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS sum_std_q
FROM rgm GROUP BY image_id
"""


# ------------------------------------------- changedetect class outliers
# class mask = (vp // 64) % 4 + 1 = 2 over the perturbed mirror plane,
# value-plane nodata 7; reference classification expression
# (pxloutlierchng.py:397,497): nd->0, mask&outlier->2, mask->1, else 0.
_CD_SRC = """
cdc AS MATERIALIZED (SELECT image_id, v, ((vp // 64) % 4 + 1) AS cls
                     FROM bstv),
cdsrc AS MATERIALIZED (SELECT image_id, v FROM cdc
                       WHERE cls = 2 AND v <> 7)
""".strip()

ORACLES["cd_otsu_outliers"] = f"""
{_PREFIX},
{_BST_PX},
{_CD_SRC},
ohist AS (SELECT image_id, v, count(*) AS cnt
          FROM cdsrc GROUP BY image_id, v),
ocum AS (SELECT image_id, v,
                sum(cnt) OVER (PARTITION BY image_id ORDER BY v) AS w0,
                sum(cnt * v) OVER (PARTITION BY image_id ORDER BY v) AS s0,
                sum(cnt) OVER (PARTITION BY image_id) AS n,
                sum(cnt * v) OVER (PARTITION BY image_id) AS s
         FROM ohist),
ocand AS (SELECT image_id, v AS t,
                 CAST(w0 AS BIGINT) AS w0, CAST(n - w0 AS BIGINT) AS w1,
                 CAST(s0 * (n - w0) - (s - s0) * w0 AS BIGINT) AS nn
          FROM ocum WHERE w0 < n),
osc AS (SELECT image_id, t,
               row_number() OVER (PARTITION BY image_id
                                  ORDER BY {_OTSU_SCORE} DESC, t ASC) AS r
        FROM ocand)
SELECT c.image_id, CAST(o.t AS BIGINT) AS thres,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mask,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7 AND c.v < o.t
                THEN 1 ELSE 0 END) AS BIGINT) AS n_chng,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7 AND NOT (c.v < o.t)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_nochng
FROM cdc c JOIN osc o ON o.image_id = c.image_id AND o.r = 1
GROUP BY c.image_id, o.t
"""


def _cd_li_oracle() -> str:
    return f"""
{_PREFIX},
{_BST_PX},
{_CD_SRC},
{_li_oracle(16, src="cdsrc")}
SELECT c.image_id,
       CAST(floor(t.t * 1048576.0) AS BIGINT) AS t_q,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mask,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7
                      AND CAST(c.v + 1 AS DOUBLE) > t.t
                THEN 1 ELSE 0 END) AS BIGINT) AS n_chng,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7
                      AND NOT (CAST(c.v + 1 AS DOUBLE) > t.t)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_nochng
FROM cdc c JOIN lt16 t ON t.image_id = c.image_id
GROUP BY c.image_id, t.t
"""


ORACLES["cd_li_outliers"] = _cd_li_oracle()

ORACLES["cd_kurtskew_outliers"] = f"""
{_PREFIX},
{_BST_PX},
{_CD_SRC},
ksh AS (SELECT image_id, v, CAST(count(*) AS HUGEINT) AS n
        FROM cdsrc GROUP BY image_id, v),
kss AS (SELECT image_id, v,
               coalesce(sum(n) OVER w, 0) AS sn,
               coalesce(sum(CAST(v AS HUGEINT) * n) OVER w, 0) AS s1,
               coalesce(sum(CAST(v AS HUGEINT) * v * n) OVER w, 0) AS s2,
               coalesce(sum(CAST(v AS HUGEINT) * v * v * n) OVER w, 0)
                 AS s3,
               coalesce(sum(CAST(v AS HUGEINT) * v * v * v * n) OVER w,
                        0) AS s4
        FROM ksh
        WINDOW w AS (PARTITION BY image_id ORDER BY v DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING)),
ksm AS (SELECT image_id, v, sn,
               sn * s2 - s1 * s1 AS a2,
               sn * sn * s3 - 3 * sn * s1 * s2 + 2 * s1 * s1 * s1 AS a3,
               sn * sn * sn * s4 - 4 * sn * sn * s1 * s3
                 + 6 * sn * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS a4
        FROM kss WHERE sn >= 4),
ksc AS (SELECT image_id, v,
               CAST(floor((abs(CAST(a4 AS DOUBLE)
                               / (CAST(a2 AS DOUBLE)
                                  * CAST(a2 AS DOUBLE))
                               - CAST(3 AS DOUBLE))
                           + abs(CAST(a3 AS DOUBLE)
                                 / (CAST(a2 AS DOUBLE)
                                    * sqrt(CAST(a2 AS DOUBLE)))))
                          * 1048576.0) AS BIGINT) AS crit_q
        FROM ksm WHERE a2 > 0),
ksb AS (SELECT image_id, v, crit_q, row_number() OVER (
          PARTITION BY image_id ORDER BY crit_q, v) AS rn
        FROM ksc)
SELECT c.image_id, CAST(b.v AS BIGINT) AS thr_v,
       CAST(b.crit_q AS BIGINT) AS crit_q,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mask,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7 AND c.v < b.v
                THEN 1 ELSE 0 END) AS BIGINT) AS n_chng,
       CAST(sum(CASE WHEN c.cls = 2 AND c.v <> 7 AND NOT (c.v < b.v)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_nochng
FROM cdc c JOIN ksb b ON b.image_id = c.image_id AND b.rn = 1
GROUP BY c.image_id, b.v, b.crit_q
"""


# ----------------------------------------- rastergis distance/uid family
# calc_dist_between_clumps: odd-band clumps only (the even bands are
# the polygonise mask's excluded zero region); min pair over 8-boundary
# pixels of DIFFERENT roots.
ORACLES["dist_between_clumps"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
compm AS MATERIALIZED (
  SELECT c.image_id, c.x, c.y, c.root, i.w, i.h
  FROM comp c JOIN img i ON i.image_id = c.image_id),
offs AS (SELECT * FROM (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1),
                               (0, 1), (1, -1), (1, 0), (1, 1)) t(dx, dy)),
bnd AS MATERIALIZED (
  SELECT DISTINCT image_id, x, y, root FROM (
    SELECT a.image_id, a.x, a.y, a.root, b.root AS broot
    FROM compm a
    CROSS JOIN offs o
    LEFT JOIN compm b ON b.image_id = a.image_id
                     AND b.x = a.x + o.dx AND b.y = a.y + o.dy)
  WHERE broot IS NULL OR broot <> root),
ob AS MATERIALIZED (
  SELECT b.image_id, b.x, b.y, b.root
  FROM bnd b JOIN cl ON cl.image_id = b.image_id AND cl.root = b.root
  WHERE cl.cls % 2 = 1),
obn AS (SELECT image_id FROM ob GROUP BY image_id
        HAVING count(DISTINCT root) >= 2),
dbc AS (SELECT a.image_id, a.root,
               min((a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y)) AS msq
        FROM ob a
        JOIN obn n ON n.image_id = a.image_id
        JOIN ob b ON b.image_id = a.image_id AND b.root <> a.root
        GROUP BY a.image_id, a.root)
SELECT d.image_id, rl.cid AS clump_id,
       CAST(cl.n_pix AS BIGINT) AS n_pix, CAST(cl.cls AS BIGINT) AS cls,
       CAST(d.msq AS BIGINT) AS min_sq_px,
       sqrt(CAST(d.msq AS DOUBLE)) * CAST(0.001 AS DOUBLE) AS dist_deg
FROM dbc d
JOIN rl ON rl.image_id = d.image_id AND rl.root = d.root
JOIN cl ON cl.image_id = d.image_id AND cl.root = d.root
"""

# calc_dist_to_classes: per class, proximity capped at d2<=256; the
# nearest class pixel for an outside pixel is an 8-boundary class
# pixel, so the pair scan only needs those (mod-53 image subset).
ORACLES["dist_to_classes"] = f"""
{_PREFIX},
dcx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 53 = 0),
dcpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM dcx),
dcv AS MATERIALIZED (
  SELECT image_id, x, y, w, h,
         (({_PXV}) * 4) // {_BST_PM} AS rc
  FROM dcpxy),
offs AS (SELECT * FROM (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1),
                               (0, 1), (1, -1), (1, 0), (1, 1)) t(dx, dy)),
dcb AS MATERIALIZED (
  SELECT DISTINCT image_id, x, y, rc FROM (
    SELECT a.image_id, a.x, a.y, a.rc, b.rc AS brc
    FROM dcv a
    CROSS JOIN offs o
    LEFT JOIN dcv b ON b.image_id = a.image_id
                   AND b.x = a.x + o.dx AND b.y = a.y + o.dy)
  WHERE brc IS NULL OR brc <> rc),
dsrc AS (SELECT image_id, rc AS cls, count(*) AS n_src
         FROM dcv GROUP BY image_id, rc),
dno AS MATERIALIZED (
  SELECT p.image_id, t.rc AS cls, p.x, p.y,
         min((p.x - t.x) * (p.x - t.x)
             + (p.y - t.y) * (p.y - t.y)) AS d2
  FROM dcv p JOIN dcb t ON t.image_id = p.image_id AND t.rc <> p.rc
  GROUP BY p.image_id, t.rc, p.x, p.y),
dag AS (SELECT image_id, cls,
               CAST(sum(CASE WHEN d2 <= 256 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_out,
               CAST(sum(CASE WHEN d2 <= 256 THEN d2 ELSE 0 END)
                    AS BIGINT) AS s_d2,
               CAST(coalesce(max(CASE WHEN d2 <= 256 THEN d2 END), 0)
                    AS BIGINT) AS m_d2
        FROM dno GROUP BY image_id, cls)
SELECT s.image_id, CAST(s.cls AS BIGINT) AS cls,
       CAST(s.n_src AS BIGINT) AS n_src,
       CAST(s.n_src + coalesce(a.n_out, 0) AS BIGINT) AS n_within,
       CAST(coalesce(a.s_d2, 0) AS BIGINT) AS sum_d2,
       CAST(coalesce(a.m_d2, 0) AS BIGINT) AS max_d2
FROM dsrc s LEFT JOIN dag a ON a.image_id = s.image_id
                           AND a.cls = s.cls
"""

# create_uid_col + take_random_sample: uid = cid - 1 (RAT row order);
# deterministic sample variant = md5-ranked first floor(n * 0.5) of
# the cls=1 rows (documented replacement for numpy's seeded
# permutation, which is not SQL-expressible).
ORACLES["rat_uid_sample"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
urows AS (SELECT cl.image_id, rl.cid AS clump_id,
                 rl.cid - 1 AS uid, cl.cls, cl.n_pix,
                 md5(cl.image_id || ':' || CAST(rl.cid AS VARCHAR))
                   AS hkey
          FROM cl JOIN rl ON rl.image_id = cl.image_id
                         AND rl.root = cl.root),
umark AS (SELECT *, CASE WHEN cls = 1 THEN 1 ELSE 0 END AS marked
          FROM urows),
urank AS (SELECT *, row_number() OVER (
            PARTITION BY image_id, marked ORDER BY hkey) AS rnk,
          CAST(sum(marked) OVER (PARTITION BY image_id) AS BIGINT)
            AS n_marked
          FROM umark)
SELECT image_id, CAST(clump_id AS BIGINT) AS clump_id,
       CAST(uid AS BIGINT) AS uid, CAST(cls AS BIGINT) AS cls,
       CAST(n_pix AS BIGINT) AS n_pix,
       CAST(CASE WHEN marked = 1 AND rnk <= CAST(floor(
              CAST(n_marked AS DOUBLE) * CAST(0.5 AS DOUBLE))
              AS BIGINT) THEN 1 ELSE 0 END AS BIGINT) AS sel
FROM urank
"""


# ------------------------------------------------ imageutils utility family
from .operators.imgutils_misc import (wgs84_pxl_size_steps as _ws_steps,
                                      _RES as _IU_RES)  # noqa: E402
from .geo.transverse_mercator import inline_steps as _inl  # noqa: E402

_IU_QS = "1048576.0"
_IU_XQ = (f"floor((lon + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE))"
          f" * {_IU_RES}) * {_IU_QS})")
_IU_YQ = (f"floor((lat - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE))"
          f" * {_IU_RES}) * {_IU_QS})")

ORACLES["pixel_locations"] = f"""
{_PREFIX},
plx AS (SELECT image_id,
               CAST(sum(CAST({_IU_XQ} AS BIGINT)) AS BIGINT) AS sx
        FROM (SELECT image_id, lon,
                     unnest(generate_series(0, w - 1)) AS x FROM img)
        GROUP BY image_id),
ply AS (SELECT image_id,
               CAST(sum(CAST({_IU_YQ} AS BIGINT)) AS BIGINT) AS sy
        FROM (SELECT image_id, lat,
                     unnest(generate_series(0, h - 1)) AS y FROM img)
        GROUP BY image_id)
SELECT i.image_id, CAST(i.w AS BIGINT) * i.h AS n_pix,
       CAST(i.h * x.sx AS BIGINT) AS sum_xq,
       CAST(i.w * y.sy AS BIGINT) AS sum_yq
FROM img i
JOIN plx x ON x.image_id = i.image_id
JOIN ply y ON y.image_id = i.image_id
"""


def _imgs_overlap_oracle() -> str:
    from .geo.transverse_mercator import dlit
    thres = dlit(0.0)
    corners = (f"SELECT id, image_id, lon AS tlx, lat AS tly,"
               f" lon + w * {_IU_RES} AS brx,"
               f" lat - h * {_IU_RES} AS bry,"
               f" CAST(floor(lon) AS BIGINT) AS cx,"
               f" CAST(floor(lat) AS BIGINT) AS cy FROM img")
    return f"""
{_PREFIX},
ova AS ({corners} WHERE id % 7 = 0),
ovb AS ({corners} WHERE id % 5 = 0)
SELECT a.image_id AS a_image_id, b.image_id AS b_image_id,
       greatest(a.tlx, b.tlx) AS ixmin,
       least(a.brx, b.brx) AS ixmax,
       greatest(a.bry, b.bry) AS iymin,
       least(a.tly, b.tly) AS iymax,
       CAST(CASE WHEN (least(a.brx, b.brx) - greatest(a.tlx, b.tlx)
             <= {thres}) OR (least(a.tly, b.tly) - greatest(a.bry, b.bry)
             <= {thres}) THEN 0 ELSE 1 END AS BIGINT) AS overlaps
FROM ova a JOIN ovb b ON b.cx = a.cx AND b.cy = a.cy AND a.id < b.id
"""


ORACLES["imgs_overlap"] = _imgs_overlap_oracle()

# extract_img_pxl_sample: every 50th valid pixel in row-major order,
# indices arange(n_valid // 50) * 50 of the valid subsequence
ORACLES["pxl_sample"] = f"""
{_PREFIX},
{_BST_PX},
psv AS (SELECT image_id, v,
               row_number() OVER (PARTITION BY image_id
                                  ORDER BY y, x) - 1 AS rn0,
               count(*) OVER (PARTITION BY image_id) AS nv
        FROM bstv WHERE v <> 7),
pss AS (SELECT image_id, v, nv FROM psv
        WHERE rn0 % 50 = 0 AND rn0 < (nv // 50) * 50)
SELECT image_id, CAST(min(nv) AS BIGINT) AS n_valid,
       CAST(count(*) AS BIGINT) AS n_samp,
       CAST(sum(v) AS BIGINT) AS sum_samp,
       CAST(min(v) AS BIGINT) AS min_samp,
       CAST(max(v) AS BIGINT) AS max_samp
FROM pss GROUP BY image_id
"""

# assign_random_pxls: deterministic hash candidates, first 20 valid
_RPX = "((k * 2654435761 + id * 97) % (w - 4) + 2)"
_RPY = "((k * 40503 + id * 31) % (h - 4) + 2)"

ORACLES["rand_pxls"] = f"""
{_PREFIX},
rpk AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, 63)) AS k
        FROM img WHERE id % 19 = 0),
rpc AS (SELECT image_id, k, {_RPX} AS rx, {_RPY} AS ry,
               {synth.pixel_value_sql('id', _RPX, _RPY, 'fmt')} AS val
        FROM rpk),
rpv AS (SELECT image_id, k, rx, ry, val,
               row_number() OVER (PARTITION BY image_id
                                  ORDER BY k) AS rnk
        FROM rpc WHERE val <> 7)
SELECT image_id, CAST(rnk AS BIGINT) AS rnk,
       CAST(rx AS BIGINT) AS x, CAST(ry AS BIGINT) AS y,
       CAST(val AS BIGINT) AS v
FROM rpv WHERE rnk <= 20
"""


def _wgs84_size_oracle() -> str:
    steps, xs, ys = _ws_steps()
    xi, yi = _inl(steps, [xs, ys])
    return f"""
{_PREFIX},
wsy0 AS (SELECT image_id, w, lat,
                unnest(generate_series(0, h - 1)) AS y FROM img),
wsy AS (SELECT image_id, w,
               lat - (CAST(y AS DOUBLE)
                      + CAST(0.5 AS DOUBLE)) * {_IU_RES} AS lat_c
        FROM wsy0),
wsr AS (SELECT image_id, w,
               CAST(floor({xi} * {_IU_QS}) AS BIGINT) AS xq,
               CAST(floor({yi} * {_IU_QS}) AS BIGINT) AS yq
        FROM wsy)
SELECT image_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(w * xq) AS BIGINT) AS sum_xszq,
       CAST(sum(w * yq) AS BIGINT) AS sum_yszq
FROM wsr GROUP BY image_id
"""


ORACLES["wgs84_pxl_size"] = _wgs84_size_oracle()


# ------------------------------------ timeseries predict_for_date twin
def _season_predict_oracle() -> str:
    from .operators.timeseries import PREDICT_DOYS, harmonic_table
    pd_vals = ", ".join(f"({d}, {c})" for d, c in harmonic_table()
                        if d in PREDICT_DOYS)
    return f"""
WITH tq(doy, cq) AS (VALUES {_HARM_VALUES}),
ev AS (SELECT event_type, dayofyear(ts) AS doy,
              CAST(round(value * 100.0) AS BIGINT) AS vc
       FROM events),
j AS (SELECT e.event_type, t.cq, e.vc FROM ev e JOIN tq t ON t.doy = e.doy),
g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cq) AS BIGINT) AS sx,
             CAST(sum(cq * cq) AS BIGINT) AS sxx,
             CAST(sum(vc) AS BIGINT) AS sy,
             CAST(sum(cq * vc) AS BIGINT) AS sxy
      FROM j GROUP BY event_type),
f AS (SELECT event_type,
             CAST(sxx * sy - sx * sxy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) AS a_cents,
             CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) AS b_cents
      FROM g),
pdt(doy, cq) AS (VALUES {pd_vals})
SELECT f.event_type, CAST(p.doy AS BIGINT) AS doy,
       f.a_cents + f.b_cents * CAST(p.cq AS DOUBLE) AS pred_cents
FROM f CROSS JOIN pdt p
"""


ORACLES["season_predict"] = _season_predict_oracle()


# ------------------------------------------------ least cost path
def _lcp_oracle() -> str:
    from .operators.leastcost import (LCP_D_AXIAL, LCP_D_DIAG,
                                      LCP_ROUNDS)
    offs = ", ".join(
        f"({dy}, {dx}, {LCP_D_DIAG if dy and dx else LCP_D_AXIAL})"
        for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dy or dx)

    def relax(tag: str, seed_sql: str, rounds: int) -> str:
        parts = [f"""
{tag}0 AS ({seed_sql})"""]
        for r in range(1, rounds + 1):
            parts.append(f""",
{tag}{r} AS MATERIALIZED (
  SELECT image_id, gy, gx, min(d) AS d FROM (
    SELECT image_id, gy, gx, d FROM {tag}{r - 1}
    UNION ALL
    SELECT e.image_id, e.ty AS gy, e.tx AS gx, p.d + e.w AS d
    FROM {tag}{r - 1} p
    JOIN lce e ON e.image_id = p.image_id
              AND e.ay = p.gy AND e.ax = p.gx)
  GROUP BY image_id, gy, gx)""")
        return "".join(parts)

    return f"""
{_PREFIX},
lcx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 53 = 0),
lcpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM lcx),
lcg AS MATERIALIZED (
  SELECT image_id, y // 8 AS gy, x // 8 AS gx,
         CAST(sum({_PXV}) AS BIGINT) AS c
  FROM lcpxy GROUP BY image_id, y // 8, x // 8),
gdm AS (SELECT image_id, CAST(max(gx) + 1 AS BIGINT) AS gw,
               CAST(max(gy) + 1 AS BIGINT) AS gh
        FROM lcg GROUP BY image_id),
loffs(dy, dx, dd) AS (VALUES {offs}),
lce AS MATERIALIZED (
  SELECT a.image_id, a.gy AS ay, a.gx AS ax, b.gy AS ty, b.gx AS tx,
         o.dd * (a.c + b.c) AS w
  FROM lcg a CROSS JOIN loffs o
  JOIN lcg b ON b.image_id = a.image_id
            AND b.gy = a.gy + o.dy AND b.gx = a.gx + o.dx),
{relax("lds", "SELECT image_id, gy, gx, CAST(0 AS BIGINT) AS d"
          " FROM lcg WHERE gy = 0 AND gx = 0", LCP_ROUNDS).lstrip()},
{relax("ldt", "SELECT g.image_id, g.gy, g.gx, CAST(0 AS BIGINT) AS d"
          " FROM lcg g JOIN gdm m ON m.image_id = g.image_id"
          " WHERE g.gy = m.gh - 1 AND g.gx = m.gw - 1",
       LCP_ROUNDS).lstrip()},
ltot AS (SELECT s.image_id, s.d AS total
         FROM lds{LCP_ROUNDS} s JOIN gdm m ON m.image_id = s.image_id
         WHERE s.gy = m.gh - 1 AND s.gx = m.gw - 1),
lopt AS (SELECT s.image_id, s.gy, s.gx
         FROM lds{LCP_ROUNDS} s
         JOIN ldt{LCP_ROUNDS} t ON t.image_id = s.image_id
                                AND t.gy = s.gy AND t.gx = s.gx
         JOIN ltot o ON o.image_id = s.image_id
         WHERE s.d + t.d = o.total)
SELECT m.image_id, m.gw, m.gh, o.total AS total_cost,
       CAST(count(*) AS BIGINT) AS n_opt,
       CAST(sum(p.gy * m.gw + p.gx) AS BIGINT) AS sum_opt_idx
FROM lopt p
JOIN gdm m ON m.image_id = p.image_id
JOIN ltot o ON o.image_id = p.image_id
GROUP BY m.image_id, m.gw, m.gh, o.total
"""


ORACLES["least_cost_path"] = _lcp_oracle()


# ------------------------------------ tools.stats.corr_feature_selection
def _corr_feat_oracle() -> str:
    from .functions.detmath import ln_chain_sql
    base = """
SELECT CAST(floor(l_extendedprice / 64.0) AS BIGINT) AS dep,
       CAST(l_quantity AS BIGINT) AS i1,
       CAST(round(l_discount * 100.0) AS BIGINT) AS i2,
       CAST(round(l_tax * 100.0) AS BIGINT) AS i3,
       CAST(l_partkey % 1000 AS BIGINT) AS i4
FROM lineitem
""".strip()
    tall = " UNION ALL ".join(
        f"SELECT dep, '{nm}' AS ind_var, {col} AS iv FROM cfb"
        for nm, col in (("l_quantity", "i1"), ("l_discount_c", "i2"),
                        ("l_tax_c", "i3"), ("l_partkey_mod", "i4")))
    inner = f"""
SELECT ind_var, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(dep) AS BIGINT) AS sx,
       CAST(sum(dep * dep) AS BIGINT) AS sxx,
       CAST(sum(iv) AS BIGINT) AS sy,
       CAST(sum(iv * iv) AS BIGINT) AS syy,
       CAST(sum(dep * iv) AS BIGINT) AS sxy
FROM cft GROUP BY ind_var
""".strip()
    rsel = f"""
SELECT ind_var, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
          * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
FROM ({inner})
""".strip()
    ra = (f"SELECT *, CAST(1 AS DOUBLE) + r AS a1,"
          f" CAST(1 AS DOUBLE) - r AS a2 FROM ({rsel})")
    chained = ln_chain_sql(ln_chain_sql(ra, "a1", "ln1", lo=-24),
                           "a2", "ln2", lo=-24)
    return f"""
WITH cfb AS ({base}),
cft AS ({tall})
SELECT ind_var, n, r, CAST(0.5 AS DOUBLE) * (ln1 - ln2) AS fisher_z
FROM ({chained})
"""


ORACLES["corr_feat_panel"] = _corr_feat_oracle()


# ------------------------------------------------ vectorattrs column ops
_VA_LUT_SQL = " ".join(f"WHEN {k} THEN {v}" for k, v in
                       ((0, 10), (1, 20), (2, 5)))

ORACLES["vec_attr_cols"] = f"""
{_PREFIX},
vab AS (SELECT zone_id, zone_id % 5 AS cat,
               CAST(trunc(CASE WHEN zxmin < CAST(0 AS DOUBLE)
                          THEN -zxmin ELSE zxmin END) AS BIGINT) AS xi,
               CAST(trunc(CASE WHEN zymax < CAST(0 AS DOUBLE)
                          THEN -zymax ELSE zymax END) AS BIGINT) AS yi,
               CASE WHEN zxmin < CAST(0 AS DOUBLE)
                    THEN 'W' ELSE 'E' END AS ew,
               CASE WHEN zymax < CAST(0 AS DOUBLE)
                    THEN 'S' ELSE 'N' END AS hemi
        FROM zones),
van AS (SELECT zone_id, cat,
               concat('tile_', hemi, CAST(yi AS VARCHAR), ew,
                      CAST(xi AS VARCHAR)) AS tile_name,
               CAST(CASE cat {_VA_LUT_SQL} ELSE 0 END AS BIGINT)
                 AS lut_val
        FROM vab),
var_ AS (SELECT *, min(zone_id) OVER (PARTITION BY cat) AS first_fid
         FROM van)
SELECT zone_id, cat, tile_name, lut_val,
       CAST(dense_rank() OVER (ORDER BY first_fid) AS BIGINT) AS unq_num
FROM var_
"""


# ------------------------------------------------ fft_dem_fusion
def _fft_fusion_oracle() -> str:
    from .operators.demfusion import FUSE_C, FUSE_Q, twiddle_table
    tw_vals = ", ".join(f"({N},{k},{n},{c},{s})"
                        for N, k, n, c, s in twiddle_table())

    def fwd_rows(src: str, out: str, dim: str) -> str:
        # out[k, x] = floor-shift of sum_y src[y,x] * (c, -s)[k, y]
        return f"""
{out} AS MATERIALIZED (
  SELECT p.image_id, t.k AS gy, p.gx,
         {_fdv('sum(p.re * t.c + p.im * t.s)', FUSE_Q)} AS re,
         {_fdv('sum(p.im * t.c - p.re * t.s)', FUSE_Q)} AS im
  FROM {src} p
  JOIN gdm m ON m.image_id = p.image_id
  JOIN ftw t ON t.n_dim = m.{dim} AND t.n = p.gy
  GROUP BY p.image_id, t.k, p.gx)"""

    def fwd_cols(src: str, out: str, dim: str) -> str:
        return f"""
{out} AS MATERIALIZED (
  SELECT p.image_id, p.gy, t.k AS gx,
         {_fdv('sum(p.re * t.c + p.im * t.s)', FUSE_Q)} AS re,
         {_fdv('sum(p.im * t.c - p.re * t.s)', FUSE_Q)} AS im
  FROM {src} p
  JOIN gdm m ON m.image_id = p.image_id
  JOIN ftw t ON t.n_dim = m.{dim} AND t.n = p.gx
  GROUP BY p.image_id, p.gy, t.k)"""

    def inv_rows(src: str, out: str, dim: str) -> str:
        return f"""
{out} AS MATERIALIZED (
  SELECT p.image_id, t.k AS gy, p.gx,
         {_fdv('sum(p.re * t.c - p.im * t.s)', FUSE_Q)} AS re,
         {_fdv('sum(p.im * t.c + p.re * t.s)', FUSE_Q)} AS im
  FROM {src} p
  JOIN gdm m ON m.image_id = p.image_id
  JOIN ftw t ON t.n_dim = m.{dim} AND t.n = p.gy
  GROUP BY p.image_id, t.k, p.gx)"""

    def inv_cols(src: str, out: str, dim: str) -> str:
        return f"""
{out} AS MATERIALIZED (
  SELECT p.image_id, p.gy, t.k AS gx,
         {_fdv('sum(p.re * t.c - p.im * t.s)', FUSE_Q)} AS re,
         {_fdv('sum(p.im * t.c + p.re * t.s)', FUSE_Q)} AS im
  FROM {src} p
  JOIN gdm m ON m.image_id = p.image_id
  JOIN ftw t ON t.n_dim = m.{dim} AND t.n = p.gx
  GROUP BY p.image_id, p.gy, t.k)"""

    # splice predicate on the UNSHIFTED index (fftshift roll by N//2)
    def spl(idx: str, dim: str) -> str:
        return (f"((({idx} + m.{dim} // 2) % m.{dim})"
                f" >= m.{dim} // 2 - {FUSE_C}"
                f" AND (({idx} + m.{dim} // 2) % m.{dim})"
                f" < m.{dim} // 2 + {FUSE_C})")

    return f"""
{_PREFIX},
ffx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 53 = 0),
ffpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM ffx),
fg4 AS MATERIALIZED (
  SELECT image_id, y // 4 AS gy, x // 4 AS gx,
         CAST(sum({_PXV}) // count(*) AS BIGINT) AS hi
  FROM ffpxy GROUP BY image_id, y // 4, x // 4),
fg16 AS MATERIALIZED (
  SELECT image_id, y // 16 AS qy, x // 16 AS qx,
         CAST(sum({_PXV}) // count(*) AS BIGINT) AS lo
  FROM ffpxy GROUP BY image_id, y // 16, x // 16),
gdm AS (SELECT image_id, CAST(max(gx) + 1 AS BIGINT) AS gw,
               CAST(max(gy) + 1 AS BIGINT) AS gh
        FROM fg4 GROUP BY image_id),
ftw(n_dim, k, n, c, s) AS (VALUES {tw_vals}),
fhi0 AS (SELECT image_id, gy, gx, hi AS re, CAST(0 AS BIGINT) AS im
         FROM fg4),
flo0 AS (SELECT g.image_id, g.gy, g.gx, q.lo AS re,
                CAST(0 AS BIGINT) AS im
         FROM fg4 g JOIN fg16 q ON q.image_id = g.image_id
                              AND q.qy = g.gy // 4 AND q.qx = g.gx // 4),
{fwd_rows('fhi0', 'fhr', 'gh').lstrip()},
{fwd_cols('fhr', 'fhc', 'gw').lstrip()},
{fwd_rows('flo0', 'flr', 'gh').lstrip()},
{fwd_cols('flr', 'flc', 'gw').lstrip()},
fsp AS MATERIALIZED (
  SELECT l.image_id, l.gy, l.gx,
         CASE WHEN {spl('l.gy', 'gh')} AND {spl('l.gx', 'gw')}
              THEN h.re ELSE l.re END AS re,
         CASE WHEN {spl('l.gy', 'gh')} AND {spl('l.gx', 'gw')}
              THEN h.im ELSE l.im END AS im
  FROM flc l
  JOIN gdm m ON m.image_id = l.image_id
  JOIN fhc h ON h.image_id = l.image_id AND h.gy = l.gy
            AND h.gx = l.gx),
{inv_rows('fsp', 'fir', 'gh').lstrip()},
{inv_cols('fir', 'fic', 'gw').lstrip()},
fmag AS (SELECT image_id, gy, gx,
                CAST(floor(sqrt(CAST(re AS DOUBLE) * CAST(re AS DOUBLE)
                     + CAST(im AS DOUBLE) * CAST(im AS DOUBLE)))
                     AS BIGINT) AS mag
         FROM fic),
fspn AS (SELECT l.image_id, CAST(count(*) AS BIGINT) AS n_splice
         FROM flc l JOIN gdm m ON m.image_id = l.image_id
         WHERE {spl('l.gy', 'gh')} AND {spl('l.gx', 'gw')}
         GROUP BY l.image_id)
SELECT g.image_id, g.gw, g.gh, n.n_splice,
       CAST(sum(f.mag) AS BIGINT) AS sum_mag,
       CAST(min(f.mag) AS BIGINT) AS min_mag,
       CAST(max(f.mag) AS BIGINT) AS max_mag
FROM fmag f
JOIN gdm g ON g.image_id = f.image_id
JOIN fspn n ON n.image_id = f.image_id
GROUP BY g.image_id, g.gw, g.gh, n.n_splice
"""


ORACLES["fft_dem_fusion"] = _fft_fusion_oracle()


# ------------------------------------------------ solar angles
def _solar_oracle() -> str:
    from .operators.solar import AZ_CASES, solar_steps
    from .geo.transverse_mercator import inline_steps
    steps, finals = solar_steps()
    cz, sd = inline_steps(steps, [finals["cos_zen"],
                                  finals["sin_dec"]])
    return f"""
{_PREFIX},
sob AS (SELECT image_id, id, lat,
               CAST(id % 365 + 1 AS BIGINT) AS doy,
               CAST(id % 96 AS BIGINT) AS hour_slot,
               {AZ_CASES['az_usgs']} AS az_usgs,
               {AZ_CASES['az_trad']} AS az_trad
        FROM img)
SELECT image_id, doy, hour_slot,
       {cz} AS cos_zen, {sd} AS sin_dec,
       CAST({AZ_CASES['az_irr_usgs'].format(u='az_usgs')} AS BIGINT)
         AS az_irr_usgs,
       CAST({AZ_CASES['az_irr_trad'].format(t='az_trad')} AS BIGINT)
         AS az_irr_trad
FROM sob
"""


ORACLES["solar_angles"] = _solar_oracle()


# --------------------------------------- create_train_valid_test_sets
ORACLES["train_valid_test"] = """
WITH tvs AS (SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                         < '33' THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                         < '66' THEN 'valid'
                    ELSE 'train' END AS split
        FROM documents)
SELECT split, CAST(count(*) AS BIGINT) AS n_samples,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM tvs GROUP BY split
"""


# ---------------------------------------- merge_utm_vecs_wgs84 roundtrip
def _sql_chain(sql: str, steps, finals: dict) -> str:
    """CTE-free chained projections (the inverse series' steps are
    multi-referenced — full inlining explodes combinatorially)."""
    for name, expr in steps:
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    sel = ", ".join(f"{e} AS {n}" for n, e in finals.items())
    return f"SELECT *, {sel} FROM ({sql})"


def _merge_utm_oracle() -> str:
    from .geo.transverse_mercator import (TMParams, _K0, _WGS84,
                                          central_meridian_deg,
                                          tm_forward_steps,
                                          tm_inverse_steps)
    parts = []
    for zone, lon0 in ((30, -6.0), (31, 0.0)):
        p = TMParams(*_WGS84, central_meridian_deg(zone), 0.0, _K0,
                     500000.0, 0.0)
        base = (f"SELECT qid,"
                f" CAST({lon0} AS DOUBLE) + ((qlon + 180.0) % 6.0)"
                f" AS qlon,"
                f" CAST(-55.0 AS DOUBLE) + ((qlat + 60.0) % 125.0)"
                f" AS qlat FROM qpts")
        fs, fe, fn = tm_forward_steps("qlon", "qlat", p,
                                      pfx=f"__mf{zone}")
        sql = _sql_chain(base, fs, {"utm_e": fe, "utm_n": fn})
        is_, lo, la = tm_inverse_steps("utm_e", "utm_n", p,
                                       pfx=f"__mi{zone}")
        sql = _sql_chain(sql, is_, {"rec_lon": lo, "rec_lat": la})
        parts.append(
            f"SELECT qid, CAST({zone} AS BIGINT) AS zone, utm_e,"
            f" utm_n, rec_lon, rec_lat FROM ({sql})")
    body = " UNION ALL ".join(parts)
    return f"{_PREFIX} {body}"


ORACLES["merge_utm_wgs84"] = _merge_utm_oracle()


# -------------------------------------- regression perform_kfold_fit
ORACLES["kfold_regress"] = """
WITH kfb AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                    CAST(floor(l_extendedprice / 64.0) AS BIGINT) AS y,
                    substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
                           CAST(l_linenumber AS VARCHAR)), 1, 2) AS hk
             FROM lineitem),
kff AS (SELECT x, y,
               CAST(CASE WHEN hk < '33' THEN 0 WHEN hk < '66' THEN 1
                    WHEN hk < '99' THEN 2 WHEN hk < 'cc' THEN 3
                    ELSE 4 END AS BIGINT) AS fold
        FROM kfb),
kfg AS (SELECT fold, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM kff GROUP BY fold),
kft AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(sx) AS BIGINT) AS tsx,
               CAST(sum(sy) AS BIGINT) AS tsy,
               CAST(sum(sxx) AS BIGINT) AS tsxx,
               CAST(sum(sxy) AS BIGINT) AS tsxy
        FROM kfg),
kfj AS (SELECT g.fold, g.n AS n_test,
               CAST(t.tn - g.n AS DOUBLE) AS nt,
               CAST(t.tsx - g.sx AS DOUBLE) AS sxt,
               CAST(t.tsy - g.sy AS DOUBLE) AS syt,
               CAST(t.tsxx - g.sxx AS DOUBLE) AS sxxt,
               CAST(t.tsxy - g.sxy AS DOUBLE) AS sxyt
        FROM kfg g CROSS JOIN kft t),
kfc AS (SELECT fold, n_test,
               (sxxt * syt - sxt * sxyt)
                   / (nt * sxxt - sxt * sxt) AS a,
               (nt * sxyt - sxt * syt)
                   / (nt * sxxt - sxt * sxt) AS b
        FROM kfj),
kfr AS (SELECT f.fold, c.a, c.b, c.n_test,
               CAST(f.y AS DOUBLE)
                 - (c.a + c.b * CAST(f.x AS DOUBLE)) AS resid
        FROM kff f JOIN kfc c ON c.fold = f.fold)
SELECT fold, a, b, n_test,
       CAST(sum(CAST(floor(resid * 1048576.0) AS BIGINT)) AS BIGINT)
           AS bias_q,
       CAST(sum(CAST(floor(abs(resid) * 1048576.0) AS BIGINT))
            AS BIGINT) AS mae_q,
       CAST(sum(CAST(floor((resid * resid) * 1024.0) AS BIGINT))
            AS BIGINT) AS mse_q
FROM kfr GROUP BY fold, a, b, n_test
"""


# ------------------------------------ create_max_ndvi_ndwi_composite
_PXSRC_B3 = synth.pixel_value_sql("id", "sx", "(h - 1 - sy)", "fmt")

ORACLES["composite_ndvi_ndwi"] = f"""
{_PREFIX},
gx AS (SELECT unnest(generate_series(0, 59)) AS px),
gy AS (SELECT unnest(generate_series(0, 59)) AS py),
grid AS (SELECT px, py, 10.0 + (px + 0.5) * 0.001 AS cx,
                45.0 + (py + 0.5) * 0.001 AS cy
         FROM gx, gy),
j AS (SELECT g.px, g.py, i.id, i.fmt, i.w, i.h,
             least(CAST(floor((g.cx - i.xmin) / 0.001) AS BIGINT),
                   i.w - 1) AS sx,
             least(CAST(floor((i.ymax - g.cy) / 0.001) AS BIGINT),
                   i.h - 1) AS sy
      FROM grid g JOIN imgf i
        ON i.id % 5 = 0
       AND g.cx >= i.xmin AND g.cx < i.xmax
       AND g.cy > i.ymin AND g.cy <= i.ymax),
cv AS (SELECT px, py, id,
             {synth.pixel_value_sql("id", "sx", "sy", "fmt")} AS v,
             CAST(floor((({_PXSRC_B2} - {synth.pixel_value_sql("id", "sx", "sy", "fmt")}) * 1000000.0)
                        / ({_PXSRC_B2} + {synth.pixel_value_sql("id", "sx", "sy", "fmt")} + 1)) AS BIGINT) AS ndvi,
             CAST(floor((({_PXSRC_B3} - {_PXSRC_B2}) * 1000000.0)
                        / ({_PXSRC_B3} + {_PXSRC_B2} + 1)) AS BIGINT) AS ndwi
      FROM j),
ce AS (SELECT px, py, count(*) AS n_imgs,
              CAST(sum(CASE WHEN ndwi > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS votes,
              max({{'idx': ndvi, 'id': id, 'v': v}}) AS bv,
              max({{'idx': ndwi, 'id': id, 'v': v}}) AS bw
       FROM cv GROUP BY px, py),
cp AS (SELECT px, py, n_imgs,
              CASE WHEN 2 * votes > n_imgs THEN 2 ELSE 1 END AS lw_mask,
              CASE WHEN 2 * votes > n_imgs THEN bw ELSE bv END AS b
       FROM ce)
SELECT CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
       CAST(n_imgs AS BIGINT) AS n_imgs,
       CAST(lw_mask AS BIGINT) AS lw_mask,
       b.idx AS best_idx, b.id AS best_id, b.v AS best_v
FROM cp
"""


# ---------------------------- create_modelled_acc_pts (+ norm matrix)
ORACLES["modelled_acc_pts"] = f"""
{_PREFIX},
{_BST_PX},
mcm0 AS (SELECT image_id, (v * 4) // pmax AS i, (vp * 4) // pmax AS j,
                count(*) AS c
         FROM bstv GROUP BY image_id, (v * 4) // pmax,
                  (vp * 4) // pmax),
mcg AS (SELECT g.image_id, gi.i, gj.j
        FROM (SELECT DISTINCT image_id FROM mcm0) g,
             (SELECT unnest(generate_series(0, 3)) AS i) gi,
             (SELECT unnest(generate_series(0, 3)) AS j) gj),
mcm AS MATERIALIZED (
  SELECT g.image_id, g.i, g.j,
         CAST(coalesce(m.c, 0) AS BIGINT) AS c
  FROM mcg g LEFT JOIN mcm0 m ON m.image_id = g.image_id
         AND m.i = g.i AND m.j = g.j),
mrs AS (SELECT image_id, i, CAST(sum(c) AS BIGINT) AS rowsum
        FROM mcm GROUP BY image_id, i),
mps AS (SELECT image_id, j AS i, CAST(sum(c) AS BIGINT) AS pcnt
        FROM mcm GROUP BY image_id, j),
mtt AS (SELECT image_id, CAST(sum(c) AS BIGINT) AS total
        FROM mcm GROUP BY image_id),
mref AS (SELECT r.image_id, r.i,
                (500 * p.pcnt) // t.total AS n_ref
         FROM mrs r
         JOIN mps p ON p.image_id = r.image_id AND p.i = r.i
         JOIN mtt t ON t.image_id = r.image_id),
mrefi AS (SELECT image_id, i, n_ref,
                 CAST(coalesce(sum(n_ref) OVER (PARTITION BY image_id
                      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS BIGINT) AS rstart
          FROM mref),
mcls AS (SELECT m.image_id, m.i, m.j,
                CASE WHEN r.rowsum > 0
                     THEN (500 * m.c * p.pcnt) // (r.rowsum * t.total)
                     ELSE 0 END AS n_cls
         FROM mcm m
         JOIN mrs r ON r.image_id = m.image_id AND r.i = m.i
         JOIN mps p ON p.image_id = m.image_id AND p.i = m.i
         JOIN mtt t ON t.image_id = m.image_id),
mclsi AS (SELECT image_id, i, j, n_cls,
                 CAST(coalesce(sum(n_cls) OVER (PARTITION BY image_id
                      ORDER BY i, j ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS BIGINT) AS cstart
          FROM mcls),
mov AS (SELECT c.image_id, r.i AS ref_cls, c.j AS cls_cls,
               greatest(CAST(0 AS BIGINT),
                        least(c.cstart + c.n_cls, r.rstart + r.n_ref)
                        - greatest(c.cstart, r.rstart)) AS ov
        FROM mclsi c
        JOIN mrefi r ON r.image_id = c.image_id),
mpr AS (SELECT image_id, ref_cls, cls_cls,
               CAST(sum(ov) AS BIGINT) AS n_pts_mod
        FROM mov GROUP BY image_id, ref_cls, cls_cls),
mkk AS (SELECT image_id, CAST(sum(n_pts_mod) AS BIGINT) AS nk
        FROM mpr GROUP BY image_id)
SELECT p.image_id, CAST(p.ref_cls AS BIGINT) AS ref_cls,
       CAST(p.cls_cls AS BIGINT) AS cls_cls, p.n_pts_mod,
       CAST(500 - k.nk AS BIGINT) AS n_dropped
FROM mpr p JOIN mkk k ON k.image_id = p.image_id
WHERE p.n_pts_mod > 0
"""


# ------------------------------- visibility_to_aot + get_esun_value
def _calib_scalars_oracle() -> str:
    import math as _m
    from .geo.transverse_mercator import cos_sql, dlit
    from .operators.calibration import dsq_table
    vals = ", ".join(f"({d},{q})" for d, q in dsq_table())
    return f"""
{_PREFIX},
dsq(doy, dsqq) AS (VALUES {vals}),
csb AS (SELECT image_id, CAST(id % 365 + 1 AS INT) AS doy,
               CAST(5 + id % 40 AS DOUBLE) AS vis,
               CAST(id % 900 AS DOUBLE) * 0.25
                 + CAST(10.0 AS DOUBLE) AS rad,
               (CAST(id % 37 AS DOUBLE) + CAST(5.0 AS DOUBLE))
                 / CAST(64.0 AS DOUBLE) AS toa_refl,
               CAST(id % 60 + 5 AS DOUBLE) * {dlit(_m.pi / 180.0)} AS zrad
        FROM img)
SELECT b.image_id, CAST(b.doy AS BIGINT) AS doy,
       ({dlit(3.9449)} / b.vis) + {dlit(0.08498)} AS aot,
       ((({dlit(_m.pi)} * b.rad)
         * (CAST(t.dsqq AS DOUBLE) / CAST(1000000000.0 AS DOUBLE)))
        / b.toa_refl) / ({cos_sql('b.zrad')}) AS esun
FROM csb b JOIN dsq t ON t.doy = b.doy
"""


ORACLES["calib_scalars"] = _calib_scalars_oracle()


# --------------------------------------------- SQ8 embedding codes
ORACLES["embed_sq8"] = """
WITH sqd AS (SELECT vec_id, d - 1 AS d, CAST(xf AS DOUBLE) AS x
             FROM (SELECT vec_id, unnest(embedding) AS xf,
                          generate_subscripts(embedding, 1) AS d
                   FROM embeddings)),
sqs AS (SELECT d, min(x) AS mn, max(x) AS mx FROM sqd GROUP BY d),
sqc AS (SELECT j.vec_id,
               CAST(CASE WHEN s.mx = s.mn THEN 0 ELSE least(floor(
                    ((j.x - s.mn) * CAST(255.0 AS DOUBLE))
                    / (s.mx - s.mn)), CAST(255.0 AS DOUBLE))
               END AS BIGINT) AS code,
               j.x, s.mn, s.mx
        FROM sqd j JOIN sqs s ON s.d = j.d),
sqr AS (SELECT vec_id, code,
               mn + (CAST(code AS DOUBLE) * (mx - mn))
                 / CAST(255.0 AS DOUBLE) AS recon, x
        FROM sqc),
sqe AS (SELECT vec_id, code,
               CAST(floor(((x - recon) * (x - recon))
                    * CAST(1073741824.0 AS DOUBLE)) AS BIGINT) AS errq
        FROM sqr)
SELECT vec_id, CAST(count(*) AS BIGINT) AS d_dims,
       CAST(sum(code) AS BIGINT) AS sum_code,
       CAST(min(code) AS BIGINT) AS min_code,
       CAST(max(code) AS BIGINT) AS max_code,
       CAST(sum(errq) AS BIGINT) AS sum_err_q
FROM sqe GROUP BY vec_id
"""


# ----------------------------------------- benchmark decontamination
ORACLES["doc_decontaminate"] = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
             FROM documents),
dsh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        FROM (SELECT doc_id, ts,
                     unnest(generate_series(1, len(ts) - 2)) AS i
              FROM tok)),
dbn AS (SELECT DISTINCT s FROM dsh WHERE doc_id % 97 = 0),
dtr AS (SELECT * FROM dsh WHERE doc_id % 97 <> 0),
dov AS (SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_overlap
        FROM dtr t LEFT JOIN dbn b ON b.s = t.s
        GROUP BY t.doc_id)
SELECT doc_id, n_shingles, n_overlap,
       CAST(CASE WHEN n_overlap >= 2 THEN 1 ELSE 0 END AS BIGINT)
           AS contaminated
FROM dov
"""


# ------------------------------------------------ cross-CRS raster warp
def _warp_oracle(kernel: str) -> str:
    """resample_img_to_match oracle: the SAME generated SQL step text the
    Arrow kernel evaluates with numpy (operators/warp.py warp_exprs),
    spelled as chained DuckDB projections, over the closed-form pixel
    values — bit-identical doubles end-to-end, integer aggregates."""
    from .operators.warp import warp_exprs

    out_w, out_h = 24, 18
    img_steps, px_steps, extras = warp_exprs(27700, out_w, out_h, 150.0,
                                             kernel)
    k_max = out_w * out_h - 1
    s = "SELECT id, image_id, w, h, fmt, lon, lat FROM img WHERE id % 3 = 0"
    for name, expr in img_steps:
        s = f"SELECT *, {expr} AS {name} FROM ({s})"
    s = (f"SELECT *, unnest(generate_series(0, {k_max})) AS k FROM ({s})")
    for name, expr in px_steps:
        s = f"SELECT *, {expr} AS {name} FROM ({s})"
    if kernel == "nn":
        v = synth.pixel_value_sql("id", "CAST(__wsx AS BIGINT)",
                                  "CAST(__wsy AS BIGINT)", "fmt")
        inner = (f"SELECT image_id, k, {v} AS v,"
                 f" CASE WHEN __wsx >= 0.0 AND __wsx <= CAST(w - 1 AS"
                 f" DOUBLE) AND __wsy >= 0.0 AND __wsy <= CAST(h - 1 AS"
                 f" DOUBLE) THEN 1 ELSE 0 END AS ok FROM ({s})")
        return f"""
{_PREFIX}
SELECT image_id,
       CAST(sum(ok) AS BIGINT) AS n_valid,
       CAST(sum(CASE WHEN ok = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_warp,
       CAST(sum(CASE WHEN ok = 1 THEN (k + 1) * (v + 1) ELSE 0 END)
            AS BIGINT) AS chk_warp,
       CAST(coalesce(min(CASE WHEN ok = 1 THEN v END), 0) AS BIGINT)
           AS min_warp,
       CAST(coalesce(max(CASE WHEN ok = 1 THEN v END), 0) AS BIGINT)
           AS max_warp
FROM ({inner}) GROUP BY image_id
"""
    # bilinear: sample the 2x2 support with the shared interp spelling
    def _pv(xs: str, ys: str) -> str:
        return ("CAST(" + synth.pixel_value_sql(
            "id", f"CAST({xs} AS BIGINT)", f"CAST({ys} AS BIGINT)", "fmt")
            + " AS DOUBLE)")

    for nm, xs, ys in (("v00", "__wi0", "__wj0"),
                       ("v10", "(__wi0 + 1.0)", "__wj0"),
                       ("v01", "__wi0", "(__wj0 + 1.0)"),
                       ("v11", "(__wi0 + 1.0)", "(__wj0 + 1.0)")):
        s = f"SELECT *, {_pv(xs, ys)} AS {nm} FROM ({s})"
    inner = (f"SELECT image_id, k, {extras['quant']} AS qv,"
             f" CASE WHEN __wi0 >= 0.0 AND __wi0 <= CAST(w - 2 AS DOUBLE)"
             f" AND __wj0 >= 0.0 AND __wj0 <= CAST(h - 2 AS DOUBLE)"
             f" THEN 1 ELSE 0 END AS ok FROM ({s})")
    return f"""
{_PREFIX}
SELECT image_id,
       CAST(sum(ok) AS BIGINT) AS n_valid,
       CAST(sum(CASE WHEN ok = 1 THEN CAST(qv AS BIGINT) ELSE 0 END)
            AS BIGINT) AS sum_q,
       CAST(sum(CASE WHEN ok = 1 THEN (k + 1) * CAST(qv AS BIGINT)
            ELSE 0 END) AS BIGINT) AS chk_q
FROM ({inner}) GROUP BY image_id
"""


ORACLES["warp_img"] = _warp_oracle("nn")
ORACLES["warp_img_bilinear"] = _warp_oracle("bilinear")


# ---------------------------------- local incidence angle in DEGREES
from .operators.elevation import acos_deg_sql as _acos_deg  # noqa: E402

ORACLES["local_incidence_deg"] = f"""
{_PREFIX},
{_EG_CTE},
idd AS (SELECT image_id,
               CAST(gx AS DOUBLE) / {_HS_R8} AS dx,
               CAST(-gy AS DOUBLE) / {_HS_R8} AS dy
        FROM eg),
idc AS (SELECT image_id,
               ({_dlit(_IN_SZ)} - {_dlit(_IN_CZ)}
                 * (dy * {_dlit(_IN_K1)} - dx * {_dlit(_IN_K2)}))
               / sqrt({_dlit(1.0)} + (dx * dx + dy * dy)) AS cosi
        FROM idd),
idq AS (SELECT image_id,
               CASE WHEN cosi <= {_dlit(0.0)} THEN 1 ELSE 0 END AS away,
               CAST(floor({_acos_deg("cosi")} * 1048576.0) AS BIGINT) AS q
        FROM idc)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(away) AS BIGINT) AS n_facing_away,
       CAST(sum(q) AS BIGINT) AS sum_deg_q,
       CAST(min(q) AS BIGINT) AS min_deg_q,
       CAST(max(q) AS BIGINT) AS max_deg_q
FROM idq GROUP BY image_id
"""


# ------------------------- calc_standardised_reflectance_sd2010 chain
def _sd2010_oracle() -> str:
    from .operators.calibration import (SD2010_IRR_LUT, sd2010_consts)
    from .operators.elevation import (dem_plane_sql, hillshade_consts)

    SZ, CZ, K1, K2 = hillshade_consts(135.0, 30.0)
    R8 = _dlit(8.0 * 30.0)
    c45 = _dlit(sd2010_consts(45.0, 45.0))
    beta, scale = 0.9, 1000.0
    elevs = [e for e, *_ in SD2010_IRR_LUT]
    mids = [(elevs[i] + elevs[i + 1]) // 2
            for i in range(len(SD2010_IRR_LUT) - 1)]
    rungs = [(d, f * beta, d + f + e_) for _, d, f, e_ in SD2010_IRR_LUT]

    def ladder(col_i: int) -> str:
        # elevation rung ladder (integer comparisons, ties -> lower)
        parts = [f"CASE WHEN e <= {mids[0]} THEN {_dlit(rungs[0][col_i])}"]
        for i in range(1, len(mids)):
            parts.append(f"WHEN e <= {mids[i]} THEN {_dlit(rungs[i][col_i])}")
        parts.append(f"ELSE {_dlit(rungs[-1][col_i])} END")
        return " ".join(parts)

    v_ctr = synth.pixel_value_sql("id", "x", "y", "fmt")
    return f"""
{_PREFIX},
sds AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(1, w - 2)) AS x
        FROM img WHERE id % 11 = 0),
sdp AS (SELECT *, unnest(generate_series(1, h - 2)) AS y FROM sds),
sdg AS (SELECT image_id, {v_ctr} AS v,
               {dem_plane_sql(v_ctr)} AS e,
               {_EGX} AS gx, {_EGY} AS gy
        FROM sdp),
sdd AS (SELECT image_id, v, e,
               CAST(gx AS DOUBLE) / {R8} AS dx,
               CAST(-gy AS DOUBLE) / {R8} AS dy
        FROM sdg),
sdc AS (SELECT image_id, v, e,
               ({_dlit(SZ)} - {_dlit(CZ)}
                 * (dy * {_dlit(K1)} - dx * {_dlit(K2)}))
               / sqrt({_dlit(1.0)} + (dx * dx + dy * dy)) AS cosi,
               {_dlit(1.0)} / sqrt({_dlit(1.0)} + (dx * dx + dy * dy))
                 AS cose
        FROM sdd),
sdl AS (SELECT image_id, cosi,
               (cosi + cose) / {c45} AS gamma,
               CAST(v AS DOUBLE) / {_dlit(scale)} AS sref,
               {ladder(0)} AS irrdir,
               {ladder(1)} AS irrdifb,
               {ladder(2)} AS irrtot
        FROM sdc),
sdo AS (SELECT image_id,
               CASE WHEN cosi <= {_dlit(0.0)} THEN 1 ELSE 0 END AS shade,
               CASE WHEN cosi <= {_dlit(0.0)} THEN {_dlit(0.0)}
                    WHEN (sref * irrtot) / (irrdir * gamma + irrdifb)
                         * {_dlit(scale)} < {_dlit(1.0)} THEN {_dlit(1.0)}
                    ELSE (sref * irrtot) / (irrdir * gamma + irrdifb)
                         * {_dlit(scale)} END AS outv
        FROM sdl)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(shade) AS BIGINT) AS n_shade,
       CAST(sum(CAST(floor(outv * 1048576.0) AS BIGINT)) AS BIGINT)
           AS sum_sd_q,
       CAST(min(CAST(floor(outv * 1048576.0) AS BIGINT)) AS BIGINT)
           AS min_sd_q,
       CAST(max(CAST(floor(outv * 1048576.0) AS BIGINT)) AS BIGINT)
           AS max_sd_q
FROM sdo GROUP BY image_id
"""


ORACLES["sref_sd2010"] = _sd2010_oracle()


# --------------- 6S elev x AOT 2-D LUT + elev-LUT linear interpolation
def _s6aot_oracle() -> str:
    from .operators.calibration import (LUT_6S_ELEV_AOT, aot_m_sql,
                                        aot_nearest_ladder)
    from .operators.elevation import dem_plane_sql

    lut = LUT_6S_ELEV_AOT
    elevs = [e for e, _ in lut]
    mids = [(elevs[i] + elevs[i + 1]) // 2 for i in range(len(lut) - 1)]
    n_aot = len(lut[0][1])
    cells = ", ".join(
        f"({ei * n_aot + ai}, {_dlit(A)}, {_dlit(B)}, {_dlit(C)})"
        for ei, (_, sub) in enumerate(lut)
        for ai, (_, A, B, C) in enumerate(sub))
    # m-level -> aot index lookup per elev rung, as integer VALUES rows
    lads = ", ".join(
        f"({ei}, {m}, {aot_nearest_ladder([a for a, *_ in sub])[m]})"
        for ei, (_, sub) in enumerate(lut) for m in range(9))
    eidx = " + ".join(
        f"(CASE WHEN ee > {m} THEN 1 ELSE 0 END)" for m in mids)
    all_cells = ", ".join(str(i) for i in range(len(lut) * n_aot))
    return f"""
{_PREFIX},
sax AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 17 = 0),
sap AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM sax),
sae AS (SELECT image_id, {_PXV} AS v,
               {dem_plane_sql(_PXV)} AS ee,
               {aot_m_sql(_PXV)} AS m
        FROM sap),
sai AS (SELECT image_id, v, m, CAST({eidx} AS BIGINT) AS eidx
        FROM sae),
sal (eidx, m, aidx) AS (VALUES {lads}),
sac (cell, ca, cb, cc) AS (VALUES {cells}),
saj AS (SELECT i.image_id, i.v,
               CAST(i.eidx * {n_aot} + l.aidx AS BIGINT) AS cell
        FROM sai i JOIN sal l ON l.eidx = i.eidx AND l.m = i.m),
saq AS (SELECT j.image_id, j.cell,
               CASE WHEN j.v = 0 THEN 1 ELSE 0 END AS nod,
               CAST(floor((CASE WHEN j.v = 0 THEN CAST(0 AS DOUBLE)
                 WHEN (t.ca * j.v - t.cb)
                      / (CAST(1 AS DOUBLE) + t.cc * (t.ca * j.v - t.cb))
                      * CAST(1000 AS DOUBLE) < CAST(1 AS DOUBLE)
                   THEN CAST(1 AS DOUBLE)
                 WHEN (t.ca * j.v - t.cb)
                      / (CAST(1 AS DOUBLE) + t.cc * (t.ca * j.v - t.cb))
                      * CAST(1000 AS DOUBLE) + CAST(1 AS DOUBLE)
                      > CAST(1000 AS DOUBLE)
                   THEN CAST(1000 AS DOUBLE)
                 ELSE (t.ca * j.v - t.cb)
                      / (CAST(1 AS DOUBLE) + t.cc * (t.ca * j.v - t.cb))
                      * CAST(1000 AS DOUBLE) + CAST(1 AS DOUBLE)
                 END) * 1048576.0) AS BIGINT) AS q
        FROM saj j JOIN sac t ON t.cell = j.cell),
saa AS (SELECT image_id, cell, count(*) AS n,
               CAST(sum(nod) AS BIGINT) AS nnod,
               CAST(sum(q) AS BIGINT) AS sq,
               CAST(min(q) AS BIGINT) AS mnq,
               CAST(max(q) AS BIGINT) AS mxq
        FROM saq GROUP BY image_id, cell),
sall AS (SELECT i.image_id, c.cell
         FROM (SELECT DISTINCT image_id FROM sae) i
         CROSS JOIN (SELECT unnest([{all_cells}]) AS cell) c)
SELECT l.image_id, CAST(l.cell AS BIGINT) AS cell_idx,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_pix,
       CAST(coalesce(a.nnod, -1) AS BIGINT) AS n_nodata,
       CAST(coalesce(a.sq, -1) AS BIGINT) AS sum_sref_q,
       CAST(coalesce(a.mnq, -1) AS BIGINT) AS min_sref_q,
       CAST(coalesce(a.mxq, -1) AS BIGINT) AS max_sref_q
FROM sall l LEFT JOIN saa a
  ON a.image_id = l.image_id AND a.cell = l.cell
"""


ORACLES["sref_6s_aot_lut"] = _s6aot_oracle()


def _s6interp_oracle() -> str:
    from .operators.calibration import LUT_6S
    from .operators.elevation import dem_plane_sql

    elevs = [e for e, *_ in LUT_6S]
    mids = [(elevs[i] + elevs[i + 1]) // 2 for i in range(len(LUT_6S) - 1)]
    last = len(LUT_6S) - 1
    rows = ", ".join(
        f"({i}, {e}, {_dlit(a)}, {_dlit(b)}, {_dlit(c)})"
        for i, (e, a, b, c) in enumerate(LUT_6S))
    eidx = " + ".join(
        f"(CASE WHEN ee > {m} THEN 1 ELSE 0 END)" for m in mids)
    # the standard pinned 6S tree per entry, as a text template
    refl = ("(({a} * v - {b}) / (CAST(1 AS DOUBLE)"
            " + {c} * ({a} * v - {b})) * CAST(1000 AS DOUBLE))")
    r1 = refl.format(a="i.ca", b="i.cb", c="i.cc")
    r2 = refl.format(a="t2.ca", b="t2.cb", c="t2.cc")
    return f"""
{_PREFIX},
six AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 17 = 0),
sip AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM six),
sie AS (SELECT image_id, {_PXV} AS v,
               {dem_plane_sql(_PXV)} AS ee
        FROM sip),
sii AS (SELECT image_id, v, ee, CAST({eidx} AS BIGINT) AS idx
        FROM sie),
sit (idx, el, ca, cb, cc) AS (VALUES {rows}),
si2 AS (SELECT i.*, t1.el AS e1,
               CASE WHEN i.idx = 0 THEN 1
                    WHEN i.idx = {last} THEN {last - 1}
                    WHEN i.ee - t1.el < 0 THEN i.idx - 1
                    ELSE i.idx + 1 END AS idx2
        FROM sii i JOIN sit t1 ON t1.idx = i.idx),
sio AS (SELECT i.image_id,
               ({r1} * (CAST(1 AS DOUBLE)
                  - (CAST(abs(i.ee - i.e1) AS DOUBLE)
                     / CAST(abs(i.e1 - t2.el) AS DOUBLE))))
             + ({r2} * (CAST(1 AS DOUBLE)
                  - (CAST(abs(i.ee - t2.el) AS DOUBLE)
                     / CAST(abs(i.e1 - t2.el) AS DOUBLE)))) AS o,
               i.v
        FROM (SELECT s.*, t1.ca, t1.cb, t1.cc FROM si2 s
              JOIN sit t1 ON t1.idx = s.idx) i
        JOIN sit t2 ON t2.idx = i.idx2),
siq AS (SELECT image_id,
               CAST(floor((CASE WHEN o < CAST(1 AS DOUBLE)
                                  THEN CAST(1 AS DOUBLE)
                                WHEN o + CAST(1 AS DOUBLE)
                                     > CAST(1000 AS DOUBLE)
                                  THEN CAST(1000 AS DOUBLE)
                                ELSE o + CAST(1 AS DOUBLE) END)
                          * 1048576.0) AS BIGINT) AS q
        FROM sio)
SELECT image_id, count(*) AS n_pix,
       CAST(sum(q) AS BIGINT) AS sum_sref_q,
       CAST(min(q) AS BIGINT) AS min_sref_q,
       CAST(max(q) AS BIGINT) AS max_sref_q
FROM siq GROUP BY image_id
"""


ORACLES["sref_6s_lut_interp"] = _s6interp_oracle()


# ---------------------------------------------------------------- GMM
# rastergis.fit_hist_gausian_mixture_model / class_split variant
# (python/src/rastergis.cpp:1382,1425; kernel RSGISSelectClumps.cpp:602,
# peak seeding RSGISFitGaussianMixModel.cpp:50-61).  Fixed-round
# quantised EM over the integer histogram of per-clump modal values,
# one fit per lattice class v // 128 — expression-for-expression twin
# of operators/gmm.py (see its docstring for the determinism design:
# integer histogram + peak predicate + floor(resp * 2^16) M-step sums;
# exp through the pinned detmath tree).

def _gmm_oracle(rounds: int = 6) -> str:
    from .functions.detmath import exp_chain_sql
    B, HALF, KM = 8, 4, 3
    J = (1, 2, 3)

    def state_round(r: int, prev: str) -> str:
        base = f"""
SELECT h.cls, h.n, h.c, s.npeaks, s.k,
       s.mu1, s.mu2, s.mu3, s.var1, s.var2, s.var3,
       s.pi1, s.pi2, s.pi3
FROM ghnz h JOIN {prev} s ON s.cls = h.cls
""".strip()
        args = ", ".join(
            f"CASE WHEN mu{j} IS NULL THEN NULL ELSE "
            f"greatest(0.0 - (((c - mu{j}) * (c - mu{j})) / "
            f"(2.0 * var{j})), -700.0) END AS arg{j}" for j in J)
        inner = f"SELECT *, {args} FROM ({base})"
        for j in J:
            inner = exp_chain_sql(inner, f"arg{j}", f"e{j}")
        dens = ", ".join(
            f"CASE WHEN mu{j} IS NULL THEN 0.0 ELSE pi{j} * e{j} END"
            f" AS dens{j}" for j in J)
        inner = f"SELECT *, {dens} FROM ({inner})"
        inner = (f"SELECT *, dens1 + dens2 + dens3 AS den "
                 f"FROM ({inner})")
        qs = ", ".join(
            f"CAST(floor((dens{j} / den) * 65536.0) AS BIGINT) AS q{j}"
            for j in J)
        inner = f"SELECT *, {qs} FROM ({inner})"
        sums = ", ".join(
            f"CAST(sum(n * q{j}) AS BIGINT) AS s0{j}, "
            f"CAST(sum(n * q{j} * c) AS BIGINT) AS s1{j}, "
            f"CAST(sum(n * q{j} * c * c) AS BIGINT) AS s2{j}"
            for j in J)
        ga = (f"SELECT cls, npeaks, k, mu1, mu2, mu3, "
              f"var1, var2, var3, {sums} FROM ({inner}) "
              f"GROUP BY cls, npeaks, k, mu1, mu2, mu3, "
              f"var1, var2, var3")
        mus = ", ".join(
            f"CASE WHEN mu{j} IS NULL THEN NULL WHEN s0{j} > 0 THEN "
            f"CAST(s1{j} AS DOUBLE) / CAST(s0{j} AS DOUBLE) "
            f"ELSE mu{j} END AS mu{j}n" for j in J)
        gm = f"SELECT *, {mus} FROM ({ga})"
        news = []
        for j in J:
            news.append(f"mu{j}n AS mu{j}")
            news.append(
                f"CASE WHEN mu{j}n IS NULL THEN NULL WHEN s0{j} > 0 "
                f"THEN least(greatest(CAST(s2{j} AS DOUBLE) / "
                f"CAST(s0{j} AS DOUBLE) - mu{j}n * mu{j}n, 1.0), "
                f"65536.0) ELSE var{j} END AS var{j}")
            news.append(
                f"CASE WHEN mu{j}n IS NULL THEN NULL ELSE "
                f"CAST(s0{j} + 1 AS DOUBLE) / "
                f"CAST(s01 + s02 + s03 + k AS DOUBLE) END AS pi{j}")
        return (f"gs{r} AS MATERIALIZED (SELECT cls, npeaks, k, "
                + ", ".join(news) + f" FROM ({gm}))")

    parts = [f"""
gmode AS (SELECT v FROM rk WHERE r = 1),
gcls AS (SELECT v // 128 AS cls, v FROM gmode),
gst AS (SELECT cls, min(v) AS vmin, max(v) AS vmax,
               count(*) AS nv
        FROM gcls GROUP BY cls),
gstf AS (SELECT * FROM gst WHERE (vmax - vmin) // {B} + 1 >= 4),
gnzc AS (SELECT g.cls, (g.v - f.vmin) // {B} AS ibin, count(*) AS n
         FROM gcls g JOIN gstf f ON f.cls = g.cls
         GROUP BY g.cls, (g.v - f.vmin) // {B}),
gfull AS (SELECT cls, vmin, nv,
                 unnest(generate_series(0, (vmax - vmin) // {B}))
                   AS ibin
          FROM gstf),
gh AS MATERIALIZED (
  SELECT f.cls, f.nv, f.ibin, coalesce(z.n, 0) AS n,
         CAST(f.vmin + f.ibin * {B} + {HALF} AS BIGINT) AS c
  FROM gfull f LEFT JOIN gnzc z
    ON z.cls = f.cls AND z.ibin = f.ibin),
ghnz AS (SELECT * FROM gh WHERE n > 0),
gpk AS (SELECT cls, ibin, n, c, nv,
               lag(n) OVER w AS npv, lead(n) OVER w AS nnx
        FROM gh WINDOW w AS (PARTITION BY cls ORDER BY ibin)),
gpeaks AS (SELECT cls, ibin, n, c FROM gpk
           WHERE npv IS NOT NULL AND nnx IS NOT NULL
             AND n > npv AND nnx < n AND n * 200 > nv),
gsel AS (SELECT cls, ibin, c,
                row_number() OVER (PARTITION BY cls
                                   ORDER BY n DESC, ibin ASC) AS pr,
                count(*) OVER (PARTITION BY cls) AS npeaks
         FROM gpeaks),
gcomp AS (SELECT cls, npeaks, c,
                 row_number() OVER (PARTITION BY cls
                                    ORDER BY ibin ASC) AS comp
          FROM gsel WHERE pr <= {KM}),
gs0 AS MATERIALIZED (SELECT cls, any_value(npeaks) AS npeaks,
        count(*) AS k,
        max(CASE WHEN comp = 1 THEN CAST(c AS DOUBLE) END) AS mu1,
        max(CASE WHEN comp = 2 THEN CAST(c AS DOUBLE) END) AS mu2,
        max(CASE WHEN comp = 3 THEN CAST(c AS DOUBLE) END) AS mu3,
        CASE WHEN count(*) >= 1 THEN 256.0 END AS var1,
        CASE WHEN count(*) >= 2 THEN 256.0 END AS var2,
        CASE WHEN count(*) >= 3 THEN 256.0 END AS var3,
        CASE WHEN count(*) >= 1
             THEN 1.0 / CAST(count(*) AS DOUBLE) END AS pi1,
        CASE WHEN count(*) >= 2
             THEN 1.0 / CAST(count(*) AS DOUBLE) END AS pi2,
        CASE WHEN count(*) >= 3
             THEN 1.0 / CAST(count(*) AS DOUBLE) END AS pi3
        FROM gcomp GROUP BY cls)""".strip()]
    for r in range(1, rounds + 1):
        parts.append(state_round(r, f"gs{r - 1}"))
    fin = f"gs{rounds}"
    cbase = f"""
SELECT h.cls, h.n, h.c, s.npeaks, s.k,
       s.mu1, s.mu2, s.mu3, s.var1, s.var2, s.var3,
       s.pi1, s.pi2, s.pi3
FROM ghnz h JOIN {fin} s ON s.cls = h.cls
""".strip()
    args = ", ".join(
        f"CASE WHEN mu{j} IS NULL THEN NULL ELSE "
        f"greatest(0.0 - (((c - mu{j}) * (c - mu{j})) / "
        f"(2.0 * var{j})), -700.0) END AS arg{j}" for j in J)
    csel = f"SELECT *, {args} FROM ({cbase})"
    for j in J:
        csel = exp_chain_sql(csel, f"arg{j}", f"e{j}")
    scr = ", ".join(
        f"CASE WHEN mu{j} IS NULL THEN 0.0 ELSE pi{j} * e{j} END"
        f" AS sc{j}" for j in J)
    csel = f"SELECT *, {scr} FROM ({csel})"
    parts.append(f"""
gclass AS (SELECT cls, n,
                  CASE WHEN sc1 + sc2 + sc3 < 1e-05 THEN 0
                       WHEN sc1 >= sc2 AND sc1 >= sc3 THEN 1
                       WHEN sc2 >= sc3 THEN 2 ELSE 3 END AS bcls
           FROM ({csel})),
gcnt AS (SELECT cls, bcls, CAST(sum(n) AS BIGINT) AS n_assigned
         FROM gclass GROUP BY cls, bcls),
gcomps AS (SELECT cls, npeaks, k,
                  unnest(generate_series(0, k)) AS comp
           FROM {fin})""".strip())
    body = ",\n".join(parts)
    quant = ("CASE comp WHEN 1 THEN floor(mu1 * 1048576.0) "
             "WHEN 2 THEN floor(mu2 * 1048576.0) "
             "WHEN 3 THEN floor(mu3 * 1048576.0) END",
             "CASE comp WHEN 1 THEN floor(var1 * 1048576.0) "
             "WHEN 2 THEN floor(var2 * 1048576.0) "
             "WHEN 3 THEN floor(var3 * 1048576.0) END",
             "CASE comp WHEN 1 THEN floor(pi1 * 1048576.0) "
             "WHEN 2 THEN floor(pi2 * 1048576.0) "
             "WHEN 3 THEN floor(pi3 * 1048576.0) END")
    return f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_RAT_VALS},
cnt AS (SELECT image_id, cid, v, count(*) AS n
        FROM vals GROUP BY image_id, cid, v),
rk AS (SELECT image_id, cid, v,
              row_number() OVER (PARTITION BY image_id, cid
                                 ORDER BY n DESC, v ASC) AS r
       FROM cnt),
{body}
SELECT g.cls, CAST(g.comp AS BIGINT) AS comp,
       CAST(g.npeaks AS BIGINT) AS n_peaks,
       CAST({quant[0]} AS BIGINT) AS mu_q,
       CAST({quant[1]} AS BIGINT) AS var_q,
       CAST({quant[2]} AS BIGINT) AS pi_q,
       coalesce(t.n_assigned, 0) AS n_assigned
FROM gcomps g
JOIN {fin} s ON s.cls = g.cls
LEFT JOIN gcnt t ON t.cls = g.cls AND t.bcls = g.comp
UNION ALL
SELECT f.cls, CAST(0 AS BIGINT) AS comp, CAST(0 AS BIGINT) AS n_peaks,
       CAST(NULL AS BIGINT) AS mu_q, CAST(NULL AS BIGINT) AS var_q,
       CAST(NULL AS BIGINT) AS pi_q, f.nv AS n_assigned
FROM gstf f WHERE f.cls NOT IN (SELECT cls FROM gs0)
"""


ORACLES["gmm_hist_fit"] = _gmm_oracle()


# ---------------------------------------------------- geometry validation
# vectorutils.check_validate_geometries (RSGISCopyCheckPolygons.cpp:34):
# same portable ring-check SQL as the engine (operators/geomvalid), in
# the duckdb dialect (unnest vs LATERAL VIEW explode).
from .operators.geomvalid import ring_check_sql as _ring_check_sql

ORACLES["check_validate_geoms"] = _ring_check_sql("duckdb")


# rastergis.histo_sampling (RSGISSelectClumps.cpp histogramSampling ->
# RSGISMathsUtils.cpp:1038 sampleUseHistogramMethod): per-class/bin
# stride-4 selection over sorted per-clump modal values (engine twin
# queries.q_histo_sampling; tie order (mode_val, image_id, clump_id)).
ORACLES["histo_sampling"] = f"""
{_PREFIX},
{_cc_segments_cte()},
{_RL},
{_RAT_VALS},
cnt AS (SELECT image_id, cid, v, count(*) AS n
        FROM vals GROUP BY image_id, cid, v),
rk AS (SELECT image_id, cid, v,
              row_number() OVER (PARTITION BY image_id, cid
                                 ORDER BY n DESC, v ASC) AS r
       FROM cnt),
hsm AS (SELECT image_id, cid, v AS mode_val, v // 128 AS cls
        FROM rk WHERE r = 1),
hst AS (SELECT cls, min(mode_val) AS vmin FROM hsm GROUP BY cls),
hsb AS (SELECT h.image_id, h.cid, h.cls, h.mode_val,
               (h.mode_val - t.vmin) // 8 AS ibin
        FROM hsm h JOIN hst t ON t.cls = h.cls),
hsr AS (SELECT *, row_number() OVER (PARTITION BY cls, ibin
                 ORDER BY mode_val, image_id, cid) AS rn
        FROM hsb)
SELECT image_id, cid AS clump_id, cls, ibin,
       CAST(CASE WHEN (rn - 1) % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS sel
FROM hsr
"""


# IVF ANN (similarity.ann_ivf_top1): seeded one-sweep Lloyd coarse
# quantizer (exact int distances, ties -> lowest cell), never-divided
# centroids (n*x - S trick), nprobe=2 probe ranking, exact cosine
# rerank — expression-for-expression twin of the engine.
ORACLES["embed_ann_ivf"] = f"""
WITH v AS (SELECT vec_id, {_QZ} AS q FROM embeddings),
vn AS (SELECT vec_id, q,
              CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
                AS nrm
       FROM v),
comp AS (SELECT vec_id, i - 1 AS i, q[i] AS x
         FROM v, (SELECT unnest(generate_series(1, 64)) AS i)),
seedc AS (SELECT vec_id AS cell, i, x AS s FROM comp WHERE vec_id < 8),
d0 AS (SELECT c.vec_id, s.cell,
              CAST(sum((c.x - s.s) * (c.x - s.s)) AS BIGINT) AS d2
       FROM comp c JOIN seedc s ON s.i = c.i
       GROUP BY c.vec_id, s.cell),
assign AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2 ASC, cell ASC) AS rn
             FROM d0) WHERE rn = 1),
cents AS (SELECT a.cell AS ccell, c.i,
                 CAST(sum(c.x) AS BIGINT) AS cs,
                 CAST(count(*) AS BIGINT) AS cn
          FROM comp c JOIN assign a ON a.vec_id = c.vec_id
          GROUP BY a.cell, c.i),
pdx AS (SELECT c.vec_id, t.ccell, t.cn,
               CAST(sum((t.cn * c.x - t.cs) * (t.cn * c.x - t.cs))
                    AS BIGINT) AS a2
        FROM comp c JOIN cents t ON t.i = c.i
        GROUP BY c.vec_id, t.ccell, t.cn),
probes AS (SELECT vec_id AS qid, ccell AS cell FROM (
             SELECT vec_id, ccell,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY CAST(a2 AS DOUBLE)
                                 / CAST(cn * cn AS DOUBLE) ASC,
                               ccell ASC) AS rn
             FROM pdx) WHERE rn <= 2),
cand AS (SELECT p.qid, m.vec_id,
                CAST(sum(a.q[i] * b.q[i]) AS BIGINT) AS dot,
                any_value(a.nrm) AS na, any_value(b.nrm) AS nb
         FROM (SELECT * FROM probes WHERE qid < 256) p
         JOIN assign m ON m.cell = p.cell AND m.vec_id != p.qid
         JOIN vn a ON a.vec_id = p.qid
         JOIN vn b ON b.vec_id = m.vec_id,
              (SELECT unnest(generate_series(1, 64)) AS i)
         GROUP BY p.qid, m.vec_id),
scored AS (SELECT qid, vec_id,
                  CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE))
                    AS sim,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY CAST(dot AS DOUBLE)
                               / sqrt(CAST(na * nb AS DOUBLE)) DESC,
                             vec_id ASC) AS rn
           FROM cand)
SELECT qid, vec_id, sim FROM scored WHERE rn = 1
"""


# ------------------------------------------------------------------ SLIC
# segmentation.skimgseg.perform_slic_segmentation (skimgseg.py:281;
# algorithm: Achanta et al. TPAMI 2012): grid-seeded centres, 3 fixed
# assign/update rounds, exact integer D2 = m^2*ds^2 + s^2*dv^2 argmin
# (ties -> lowest k), integer-floor centroid updates — twin of
# operators/segmentation.slic_superpixels.

def _slic_oracle(iters: int = 3, s: int = 8, m: int = 10) -> str:
    win, m2, s2 = 2 * s, m * m, s * s
    parts = [f"""
slgi AS (SELECT image_id, w, h, unnest(generate_series(0, h // {s} - 1))
                AS i
         FROM img WHERE id % 19 = 0),
slgj AS (SELECT image_id, w, i,
                unnest(generate_series(0, w // {s} - 1)) AS j
         FROM slgi),
slg AS (SELECT image_id, CAST(i * (w // {s}) + j AS BIGINT) AS k,
               CAST(j * {s} + {s // 2} AS BIGINT) AS cx,
               CAST(i * {s} + {s // 2} AS BIGINT) AS cy
        FROM slgj),
sc0 AS MATERIALIZED (
  SELECT c.image_id, c.k, c.cx, c.cy, CAST(p.v AS BIGINT) AS cv
  FROM slg c JOIN icpxy p
    ON p.image_id = c.image_id AND p.x = c.cx AND p.y = c.cy)"""]
    for r in range(1, iters + 1):
        d2 = (f"{m2} * ((p.x - c.cx) * (p.x - c.cx)"
              f" + (p.y - c.cy) * (p.y - c.cy))"
              f" + {s2} * ((p.v - c.cv) * (p.v - c.cv))")
        parts.append(f"""
sla{r} AS MATERIALIZED (
  SELECT image_id, x, y, v, w, k FROM (
    SELECT p.image_id, p.x, p.y, p.v, p.w, c.k,
           row_number() OVER (PARTITION BY p.image_id, p.y * p.w + p.x
                              ORDER BY {d2} ASC, c.k ASC) AS rn
    FROM icpxy p JOIN sc{r - 1} c
      ON c.image_id = p.image_id
     AND abs(p.x - c.cx) <= {win} AND abs(p.y - c.cy) <= {win})
  WHERE rn = 1),
slg{r} AS (SELECT image_id, k, CAST(sum(x) AS BIGINT) AS sx,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(v) AS BIGINT) AS sv,
                  CAST(count(*) AS BIGINT) AS n
           FROM sla{r} GROUP BY image_id, k),
sc{r} AS MATERIALIZED (
  SELECT o.image_id, o.k,
         coalesce(a.sx // a.n, o.cx) AS cx,
         coalesce(a.sy // a.n, o.cy) AS cy,
         coalesce(a.sv // a.n, o.cv) AS cv
  FROM sc{r - 1} o LEFT JOIN slg{r} a
    ON a.image_id = o.image_id AND a.k = o.k)""")
    return f"""
{_PREFIX},
{_IC_PLANE},
{",".join(parts)}
SELECT g.image_id, g.k, g.n AS n_pix, c.cx, c.cy, c.cv,
       ck.px_ck
FROM slg{iters} g
JOIN sc{iters} c ON c.image_id = g.image_id AND c.k = g.k
JOIN (SELECT image_id, k, CAST(sum(y * w + x) AS BIGINT) AS px_ck
      FROM sla{iters} GROUP BY image_id, k) ck
  ON ck.image_id = g.image_id AND ck.k = g.k
"""


ORACLES["slic_superpixels"] = _slic_oracle()


# ------------------------------------------------------------ quickshift
# segmentation.skimgseg quickshift wrapper (algorithm Vedaldi & Soatto
# 2008), deterministic form — twin of segmentation.quickshift_segments:
# integer-quantised Parzen density through the pinned exp tree, strict
# uphill parent argmin (packed key d2*2^17 + pid: pid < 2^17 so the
# packed min == the engine's (d2, pid) lexicographic rule), 15
# pointer-doubling rounds (depth 2^15 >= any per-image pixel count).

def _qs_oracle(rounds: int = 15) -> str:
    from .functions.detmath import exp_chain_sql
    pairs = """
SELECT p.image_id, p.y * p.w + p.x AS pid, p.w,
       64 * ((q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y))
         + (q.v - p.v) * (q.v - p.v) AS d2
FROM qpxy p JOIN qpxy q
  ON q.image_id = p.image_id
 AND abs(q.x - p.x) <= 2 AND abs(q.y - p.y) <= 2
""".strip()
    pairs = (f"SELECT *, greatest(0.0 - (CAST(d2 AS DOUBLE) / 8192.0), "
             f"-700.0) AS arg FROM ({pairs})")
    pairs = exp_chain_sql(pairs, "arg", "e")
    plane = f"""
qxs AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 53 = 0),
qpxy AS MATERIALIZED (
  SELECT image_id, w, x, unnest(generate_series(0, h - 1)) AS y,
         {_PXV} AS v
  FROM qxs)""".strip()
    parts = [f"""
{plane},
qsd AS MATERIALIZED (
  SELECT image_id, pid, any_value(w) AS w,
         CAST(sum(CAST(floor(e * 1099511627776.0) AS BIGINT))
              AS BIGINT) AS dens
  FROM ({pairs}) GROUP BY image_id, pid),
qsv AS MATERIALIZED (
  SELECT image_id, y * w + x AS pid, x, y, v FROM qpxy),
qslnk AS (
  SELECT a.image_id, a.pid,
         min((64 * ((b.x - a.x) * (b.x - a.x)
                    + (b.y - a.y) * (b.y - a.y))
              + (b.v - a.v) * (b.v - a.v)) * 131072 + b.pid) AS key
  FROM qsv a
  JOIN qsv b ON b.image_id = a.image_id
            AND abs(b.x - a.x) <= 3 AND abs(b.y - a.y) <= 3
            AND b.pid <> a.pid
  JOIN qsd da ON da.image_id = a.image_id AND da.pid = a.pid
  JOIN qsd db ON db.image_id = b.image_id AND db.pid = b.pid
  WHERE db.dens > da.dens
  GROUP BY a.image_id, a.pid),
qsl0 AS MATERIALIZED (
  SELECT v.image_id, v.pid,
         coalesce(l.key % 131072, v.pid) AS anc
  FROM qsv v LEFT JOIN qslnk l
    ON l.image_id = v.image_id AND l.pid = v.pid)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
qsl{r} AS MATERIALIZED (
  SELECT a.image_id, a.pid, b.anc
  FROM qsl{r - 1} a JOIN qsl{r - 1} b
    ON b.image_id = a.image_id AND b.pid = a.anc)""")
    return f"""
{_PREFIX},
{",".join(parts)}
SELECT image_id,
       CAST(row_number() OVER (PARTITION BY image_id ORDER BY anc)
            AS BIGINT) AS seg_id,
       anc AS root, n_pix, px_ck
FROM (SELECT image_id, anc, CAST(count(*) AS BIGINT) AS n_pix,
             CAST(sum(pid) AS BIGINT) AS px_ck
      FROM qsl{rounds} GROUP BY image_id, anc)
"""


ORACLES["quickshift_seg"] = _qs_oracle()


# ------------------------------------------------------------- watershed
# segmentation.skimgseg watershed wrapper, deterministic bottleneck
# (minimax topographic-distance) form — twin of
# segmentation.watershed_basins: strict 4-neighbour local-minimum
# markers, packed key bottleneck*512 + marker (lexicographic min == int
# min), 48 unrolled relaxation rounds (engine converges <= 40 on the
# corpus, margin pytest in test_segmentation).

def _ws_oracle(rounds: int = 48) -> str:
    parts = [f"""
wsx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 53 = 0),
wspxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM wsx),
wsg AS MATERIALIZED (
  SELECT image_id, y // 8 AS gy, x // 8 AS gx,
         CAST(sum({_PXV}) AS BIGINT) AS c
  FROM wspxy GROUP BY image_id, y // 8, x // 8),
wsdm AS (SELECT image_id, CAST(max(gx) + 1 AS BIGINT) AS gw
         FROM wsg GROUP BY image_id),
wsoff(dy, dx) AS (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)),
wse AS MATERIALIZED (
  SELECT a.image_id, a.gy AS ay, a.gx AS ax, b.gy AS ty, b.gx AS tx
  FROM wsg a CROSS JOIN wsoff o
  JOIN wsg b ON b.image_id = a.image_id
            AND b.gy = a.gy + o.dy AND b.gx = a.gx + o.dx),
wsmin AS (
  SELECT a.image_id, a.gy, a.gx, a.c
  FROM wsg a
  WHERE NOT EXISTS (
    SELECT 1 FROM wse e JOIN wsg b
      ON b.image_id = e.image_id AND b.gy = e.ty AND b.gx = e.tx
    WHERE e.image_id = a.image_id AND e.ay = a.gy AND e.ax = a.gx
      AND b.c <= a.c)),
wk0 AS (SELECT m.image_id, m.gy, m.gx,
               m.c * 512 + (m.gy * d.gw + m.gx) AS key
        FROM wsmin m JOIN wsdm d ON d.image_id = m.image_id)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
wk{r} AS MATERIALIZED (
  SELECT image_id, gy, gx, min(key) AS key FROM (
    SELECT image_id, gy, gx, key FROM wk{r - 1}
    UNION ALL
    SELECT e.image_id, e.ty AS gy, e.tx AS gx,
           greatest(p.key // 512, g.c) * 512 + p.key % 512 AS key
    FROM wk{r - 1} p
    JOIN wse e ON e.image_id = p.image_id
              AND e.ay = p.gy AND e.ax = p.gx
    JOIN wsg g ON g.image_id = e.image_id
              AND g.gy = e.ty AND g.gx = e.tx)
  GROUP BY image_id, gy, gx)""")
    return f"""
{_PREFIX},
{",".join(parts)},
wfin AS (SELECT g.image_id, g.gy, g.gx,
                coalesce(k.key % 512, -1) AS basin,
                g.gy * d.gw + g.gx AS fid, d.gw
         FROM wsg g
         JOIN wsdm d ON d.image_id = g.image_id
         LEFT JOIN wk{rounds} k
           ON k.image_id = g.image_id AND k.gy = g.gy AND k.gx = g.gx)
SELECT f.image_id, f.basin,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(f.fid) AS BIGINT) AS cell_ck,
       CAST(max(m.c) AS BIGINT) AS marker_c
FROM wfin f
LEFT JOIN wsg m ON m.image_id = f.image_id AND f.basin >= 0
               AND m.gy = f.basin // f.gw AND m.gx = f.basin % f.gw
GROUP BY f.image_id, f.basin
"""


ORACLES["watershed_basins"] = _ws_oracle()


# ---------------------------------------------------------- random walker
# segmentation.skimgseg random_walker wrapper (Grady 2006) in the
# deterministic fixed-round Jacobi form — twin of
# segmentation.random_walker_basins: weights once through the pinned
# exp tree, 40 unrolled sweeps with the N,S,W,E add order fixed, seeds
# pinned, exact-compare labels and integer-quantised potential sums.

def _rw_oracle(rounds: int = 40) -> str:
    from .functions.detmath import exp_chain_sql
    args = []
    for tag, dy, dx in (("n", -1, 0), ("s", 1, 0),
                        ("w", 0, -1), ("e", 0, 1)):
        dv = f"(CAST(c{tag} AS DOUBLE) - CAST(c AS DOUBLE))"
        args.append(
            f"CASE WHEN c{tag} IS NULL THEN NULL ELSE "
            f"greatest(0.0 - (({dv} * {dv}) / 2097152.0), -700.0) END"
            f" AS arg{tag}")
    base = f"""
SELECT g.image_id, g.gy, g.gx, g.fid, g.sa, g.sb, g.c,
       gn.c AS cn, gs.c AS cs, gw2.c AS cw, ge.c AS ce
FROM rwgs g
LEFT JOIN rwgs gn ON gn.image_id = g.image_id
                 AND gn.gy = g.gy - 1 AND gn.gx = g.gx
LEFT JOIN rwgs gs ON gs.image_id = g.image_id
                 AND gs.gy = g.gy + 1 AND gs.gx = g.gx
LEFT JOIN rwgs gw2 ON gw2.image_id = g.image_id
                  AND gw2.gy = g.gy AND gw2.gx = g.gx - 1
LEFT JOIN rwgs ge ON ge.image_id = g.image_id
                 AND ge.gy = g.gy AND ge.gx = g.gx + 1
""".strip()
    inner = f"SELECT *, {', '.join(args)} FROM ({base})"
    for tag in ("n", "s", "w", "e"):
        inner = exp_chain_sql(inner, f"arg{tag}", f"e{tag}")
    ws = ", ".join(
        f"CASE WHEN arg{tag} IS NULL THEN 0.0 ELSE e{tag} END AS w{tag}"
        for tag in ("n", "s", "w", "e"))
    parts = [f"""
rwx AS (SELECT image_id, id, w, h, fmt,
               unnest(generate_series(0, w - 1)) AS x
        FROM img WHERE id % 53 = 0),
rwpxy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM rwx),
rwg AS MATERIALIZED (
  SELECT image_id, y // 8 AS gy, x // 8 AS gx,
         CAST(sum({_PXV}) AS BIGINT) AS c
  FROM rwpxy GROUP BY image_id, y // 8, x // 8),
rwdm AS (SELECT image_id, CAST(max(gx) + 1 AS BIGINT) AS gw
         FROM rwg GROUP BY image_id),
rwsd AS (SELECT image_id,
                min(CASE WHEN ra = 1 THEN fid END) AS sa,
                min(CASE WHEN rb = 1 THEN fid END) AS sb
         FROM (SELECT g.image_id, g.gy * d.gw + g.gx AS fid,
                      row_number() OVER (PARTITION BY g.image_id
                        ORDER BY g.c ASC, g.gy * d.gw + g.gx ASC) AS ra,
                      row_number() OVER (PARTITION BY g.image_id
                        ORDER BY g.c DESC, g.gy * d.gw + g.gx ASC) AS rb
               FROM rwg g JOIN rwdm d ON d.image_id = g.image_id)
         GROUP BY image_id),
rwgs AS MATERIALIZED (
  SELECT g.image_id, g.gy, g.gx, g.c, g.gy * d.gw + g.gx AS fid,
         s.sa, s.sb
  FROM rwg g
  JOIN rwdm d ON d.image_id = g.image_id
  JOIN rwsd s ON s.image_id = g.image_id
  WHERE s.sa <> s.sb),
rww AS MATERIALIZED (SELECT image_id, gy, gx, fid, sa, sb, {ws}
                     FROM ({inner})),
rw0 AS (SELECT image_id, gy, gx,
               CASE WHEN fid = sa THEN 1.0 ELSE 0.0 END AS x
        FROM rww)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
rw{r} AS MATERIALIZED (
  SELECT w.image_id, w.gy, w.gx,
         CASE WHEN w.fid = w.sa OR w.fid = w.sb THEN p.x
              ELSE (w.wn * coalesce(pn.x, 0.0)
                    + w.ws * coalesce(ps.x, 0.0)
                    + w.ww * coalesce(pw.x, 0.0)
                    + w.we * coalesce(pe.x, 0.0))
                   / (w.wn + w.ws + w.ww + w.we) END AS x
  FROM rww w
  JOIN rw{r - 1} p ON p.image_id = w.image_id
                  AND p.gy = w.gy AND p.gx = w.gx
  LEFT JOIN rw{r - 1} pn ON pn.image_id = w.image_id
                        AND pn.gy = w.gy - 1 AND pn.gx = w.gx
  LEFT JOIN rw{r - 1} ps ON ps.image_id = w.image_id
                        AND ps.gy = w.gy + 1 AND ps.gx = w.gx
  LEFT JOIN rw{r - 1} pw ON pw.image_id = w.image_id
                        AND pw.gy = w.gy AND pw.gx = w.gx - 1
  LEFT JOIN rw{r - 1} pe ON pe.image_id = w.image_id
                        AND pe.gy = w.gy AND pe.gx = w.gx + 1)""")
    return f"""
{_PREFIX},
{",".join(parts)}
SELECT w.image_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CASE WHEN f.x > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_a,
       CAST(sum(CASE WHEN f.x > 0.5 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_b,
       any_value(w.sa) AS seed_a, any_value(w.sb) AS seed_b,
       CAST(sum(CAST(floor(f.x * 1048576.0) AS BIGINT)) AS BIGINT)
         AS pot_ck
FROM rww w
JOIN rw{rounds} f ON f.image_id = w.image_id
                 AND f.gy = w.gy AND f.gx = w.gx
GROUP BY w.image_id
"""


ORACLES["random_walker"] = _rw_oracle()
