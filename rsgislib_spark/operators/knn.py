"""kNN and radius-count joins on the cell index.

Re-expresses:

* ``match_closest_vec_pts`` (reference: python/rsgislib/vectorutils/
  __init__.py:3359-3473) — 1-NN point->point match — and
  ``apply_rat_knn`` (k > 1 majority vote).  The reference builds the
  full O(n*m) distance matrix; here both run one *density-adaptive
  escalation ladder* (``_ladder``): (1) pick a coarse grid resolution
  where the expected k-NN distance fits inside one cell (from the
  match-layer count), join base->match on the 3x3 coarse-cell ring (a
  single hash equi-join; ~tens of candidates per base point at any
  density), and accept a base point whose best candidates lie at
  ``d < coarse_cell_height`` — every unexplored cell lies provably
  farther; (2) unresolved stragglers ESCALATE through coarser levels
  (res - 3, res - 6, ...) with the same 3x3-ring invariant, ending at
  a terminal BOUNDED brute force: the doubly-exponentially-shrunk
  straggler set is broadcast against the match table scanned in place
  (a terminal ring join would funnel the same rows through the tiny
  grid's few cell keys — measured hot-task stragglers), so the ladder
  is exact with no unbounded or hot-keyed join anywhere — a
  pathological distribution (heavy clustering + empty oceans) just
  climbs a couple of extra rungs, each a small equi-join over the
  surviving stragglers.  The operators differ only in the per-rung
  reduction (top-1 with a tie flag, or a salted top-k tournament) and
  its resolution test.  Distances are planar euclidean in coordinate
  units, exactly ``calc_pt_distance`` (tools/geometrytools.py:592).
  Ties raise, as the reference does (vectorutils/__init__.py:
  3430-3434); output columns default to ``x_match / y_match /
  dist_match`` and ``tolerance`` filters matches ``dist < tolerance``
  (strict, :3464).

* ``calc_npts_in_radius`` (reference: python/rsgislib/vectorattrs/
  __init__.py:997-1049) — per-point count of same-layer points within an
  inclusive radius, minus self (KDTree ``query_ball_point`` semantics).
  Implemented as a cell-ring-bounded self-equi-join: each point explodes
  its (2K+1)^2 neighbour cells (``_ring``, the ladder's probe with K
  rings; pure Catalyst ``sequence``/``explode`` with longitude wrap via
  pmod), joins back on cell, filters ``dist <= radius``, aggregates.
  No UDF anywhere; the shuffle key is the cell, so density hot-spots
  parallelize across their neighbour cells and AQE handles residual
  skew.

Intermediates with two consumers (the keyed layers, each rung's
resolved set, the tie-checked union) are ``localCheckpoint(eager=
False)``: computed once, kept while a plan derived from them lives,
freed by the ContextCleaner at the next JVM GC after that.  Nothing
enters the CacheManager, which matches cached frames by *plan* and so
would serve a later call over a rewritten table an earlier call's
data.  Checkpointing a plan with an exchange runs its shuffle map
stages at once, so the ring rungs' candidate joins run inside the call.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, functions as F

from ..geo.cellindex import DEFAULT_RES, _X_SHIFT

__all__ = ["match_closest_points", "knn_classify", "npts_in_radius"]


class TieError(RuntimeError):
    """Multiple equally-near matches (the reference raises here too)."""


def _dist(ax, ay, bx, by):
    dx = ax - bx
    dy = ay - by
    return F.sqrt(dx * dx + dy * dy)


def _cell_parts(lon, lat, res: int):
    n = 1 << res
    nx = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0)
                                    * F.lit(float(n))), F.lit(0.0)),
                 F.lit(float(n - 1))).cast("long")
    ny = F.least(F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0)
                                    * F.lit(float(n))), F.lit(0.0)),
                 F.lit(float(n - 1))).cast("long")
    return nx, ny


def _ring(df: DataFrame, nx, ny, k: int, n: int) -> DataFrame:
    """``df`` exploded to one row per cell of the (2k+1)^2 ring around
    cell ``(nx, ny)`` of an n x n grid, keyed ``_xy``.  Rows past a pole
    are dropped; longitude wraps (pmod), so a ring spanning the grid
    repeats cells — consumers must be idempotent to that."""
    return (
        df.withColumn("_rx", F.explode(F.sequence(nx - k, nx + k)))
        .withColumn("_ry", F.explode(F.sequence(ny - k, ny + k)))
        .where((F.col("_ry") >= 0) & (F.col("_ry") < n))
        .withColumn("_xy", F.pmod(F.col("_rx"), F.lit(n)) * F.lit(_X_SHIFT)
                    + F.col("_ry"))
        .drop("_rx", "_ry")
    )


def _keyed(df: DataFrame, side: str, key: str, lon: str, lat: str,
           res_c: int, *extra) -> DataFrame:
    """One ladder input: ``_{side}key/lon/lat`` (+ ``extra`` columns) and
    the cell at the finest rung, ``_{side}nx/ny``.  Coarser rungs take
    an exact shiftright of it (power-of-2 grids nest), so no rung
    re-derives cells or re-scans the input."""
    nx, ny = _cell_parts(F.col(lon), F.col(lat), res_c)
    return df.select(
        F.col(key).alias(f"_{side}key"), *extra,
        F.col(lon).alias(f"_{side}lon"), F.col(lat).alias(f"_{side}lat"),
        nx.alias(f"_{side}nx"), ny.alias(f"_{side}ny"),
    ).localCheckpoint(eager=False)


def _ladder(keyed_base: DataFrame, keyed_match: DataFrame, res_c: int,
            reduce, resolved_when) -> DataFrame:
    """The escalation ladder shared by the kNN operators.

    ``reduce(cand)`` maps candidate rows (``_bkey`` + match columns +
    distance ``_d``) to one row per ``_bkey``; ``resolved_when(cell_h)``
    is the Column that proves a reduced row final at a rung whose
    unexplored cells lie >= ``cell_h`` away.  Rungs run at res_c,
    res_c-3, ... while res > 3 (step 3 = 8x cell area per rung, so
    straggler populations collapse fast; typical densities need one
    ring rung), then the terminal brute force.  Returns the union of
    every rung's reduced rows.
    """
    def reduced(cand):
        return reduce(cand.withColumn("_d", _dist(
            F.col("_blon"), F.col("_blat"), F.col("_mlon"), F.col("_mlat"))))

    pending, parts = keyed_base, []
    for r in range(res_c, 3, -3):
        n, shift = 1 << r, res_c - r
        probe = _ring(pending, F.shiftright("_bnx", shift),
                      F.shiftright("_bny", shift), 1, n)
        rung_match = keyed_match.withColumn(
            "_xy", F.shiftright("_mnx", shift) * F.lit(_X_SHIFT)
            + F.shiftright("_mny", shift))
        # checkpoint: the rung feeds BOTH the union and the next rung's
        # anti-join — without it the union branch would recompute every
        # earlier rung (O(rungs^2) subplan blowup)
        parts.append(reduced(probe.join(rung_match, "_xy", "inner")).where(
            resolved_when(180.0 / n)).localCheckpoint(eager=False))
        pending = pending.join(parts[-1].select("_bkey"), "_bkey",
                               "left_anti")
    # terminal bounded brute force: a ring join on the <= 8x8 grid would
    # funnel |pending| x |match| rows through a handful of hot cell keys
    # (measured: the whole stage on 2-4 tasks, 8-41 s swings).  Broadcast
    # the provably-small side and scan the other in place — even spread,
    # no shuffle, provably global.  After >= 1 ring rung that is the
    # doubly-exponentially-shrunk stragglers; a ladder that STARTS
    # terminal means the match layer is tiny (res_c <= 3 ⇔ ~hundreds of
    # points), so broadcast the match side and keep the base in place.
    slim = pending.select("_bkey", "_blon", "_blat")
    cand = (keyed_match.crossJoin(F.broadcast(slim)) if parts
            else slim.crossJoin(F.broadcast(keyed_match)))
    parts.append(reduced(cand))
    return functools.reduce(DataFrame.unionByName, parts)


def _best(cand: DataFrame) -> DataFrame:
    """Top-1 per base key as a partial-aggregating groupBy.

    Deliberately NOT a window function: a window shuffles every
    candidate of a key to one task and sorts (the megacity hot cell
    makes that a straggler); min/max of ordered structs combine
    map-side, so only one row per (partition, key) crosses the shuffle
    regardless of candidate skew.  Tie detection: the smallest and
    largest match key at the minimum distance differ iff >= 2 distinct
    equally-near matches exist (idempotent, so ring-wrap duplicate
    candidates cannot false-trigger it).
    """
    ag = cand.groupBy("_bkey").agg(
        F.min(F.struct(F.col("_d"), F.col("_mkey"),
                       F.col("_mlon"), F.col("_mlat"))).alias("_a"),
        F.max(F.struct((-F.col("_d")).alias("_nd"),
                       F.col("_mkey").alias("_k"))).alias("_z"),
    )
    return ag.select(
        "_bkey",
        F.col("_a._mkey").alias("_mkey"),
        F.col("_a._mlon").alias("_mlon"),
        F.col("_a._mlat").alias("_mlat"),
        F.col("_a._d").alias("_d"),
        F.when(F.col("_z._k") != F.col("_a._mkey"), F.lit(2))
        .otherwise(F.lit(1)).alias("_nbest"),
    )


def match_closest_points(
    base: DataFrame,
    match: DataFrame,
    *,
    base_key: str = "qid",
    base_lon: str = "qlon",
    base_lat: str = "qlat",
    match_key: str = "image_id",
    match_lon: str = "lon",
    match_lat: str = "lat",
    res: int = DEFAULT_RES,
    tolerance: float | None = None,
    check_ties: bool = True,
    match_count: int | None = None,
    out_x_col: str = "x_match",
    out_y_col: str = "y_match",
    out_dist_col: str = "dist_match",
) -> DataFrame:
    """Exact 1-NN of every base point into the match layer.

    Escalation ladder (``_ladder``): a 3x3-ring candidate join at a
    density-chosen coarse resolution (a best candidate at ``d <
    cell_height`` is provably the true 1-NN — no unexplored cell can be
    nearer), then the same join at successively coarser levels for the
    stragglers; the terminal level broadcasts the shrunken straggler
    set against the full match table (bounded brute force, evenly
    spread), so the result is exact with no unbounded or hot-keyed join.

    ``match_count`` seeds the density heuristic; pass it when known to
    avoid the one metadata-only ``count()`` action (a wrong value only
    shifts work between rungs, never changes the result).

    Returns ``base`` columns + match coordinates/key/distance.  Raises
    :class:`TieError` when a base point has two equally-near matches
    (skip with ``check_ties=False`` to avoid the validation action).
    """
    # Poisson-expected NN distance ~ 0.5 / sqrt(m / world_area); make the
    # coarse cell ~3x that so the first rung resolves the vast majority.
    if match_count is None:
        match_count = match.count()
    exp_nn = 0.5 / math.sqrt(max(match_count, 1) / (360.0 * 180.0))
    res_c = int(max(1, min(res,
                           math.floor(math.log2(180.0 / (3.0 * exp_nn))))))
    matched = _ladder(
        _keyed(base, "b", base_key, base_lon, base_lat, res_c),
        _keyed(match, "m", match_key, match_lon, match_lat, res_c),
        res_c, _best, lambda cell_h: F.col("_d") < F.lit(cell_h))

    if check_ties:
        # checkpoint only when the tie probe adds a second consumer
        matched = matched.localCheckpoint(eager=False)
        if matched.where(F.col("_nbest") > 1).limit(1).count():
            raise TieError(
                "Multiple features found - don't know what to do with that!"
            )
    matched = matched.select(
        F.col("_bkey").alias(base_key),
        F.col("_mkey").alias("match_" + match_key),
        F.col("_mlon").alias(out_x_col),
        F.col("_mlat").alias(out_y_col),
        F.col("_d").alias(out_dist_col),
    )
    out = base.join(matched, base_key, "left")
    if tolerance is not None:
        out = out.where(F.col(out_dist_col) < tolerance)
    return out


def knn_classify(
    base: DataFrame,
    match: DataFrame,
    *,
    k: int = 5,
    base_key: str = "qid",
    base_lon: str = "qlon",
    base_lat: str = "qlat",
    match_key: str = "id",
    match_lon: str = "lon",
    match_lat: str = "lat",
    class_col: str = "cls",
    res: int = DEFAULT_RES,
    match_count: int | None = None,
    n_salt: int = 16,
) -> DataFrame:
    """TRUE k-NN majority-vote classifier (``apply_rat_knn``, k > 1).

    Reference: ``apply_rat_knn`` (python/src/rastergis.cpp method
    table) — classify each base point by majority vote of its k nearest
    match points.  The 1-NN escalation ladder generalizes: at each rung
    a base point RESOLVES when its k-th best candidate distance is
    provably inside the explored ring (``d_k < cell_height`` — every
    unexplored cell lies at least one full cell away, so all k true
    nearest neighbours have been seen); stragglers escalate to coarser
    rungs, and the terminal rung probes the whole grid.  No cross join
    and no per-key window sort at any skew: top-k per key is a
    two-level TOURNAMENT — per (key, salt-of-neighbour) partial top-k
    (bounded lists), then a re-aggregation of ≤ ``n_salt`` partials —
    so a megacity cell's candidates spread over ``n_salt`` groups.
    Ring-wrap duplicate candidates are removed by ``array_distinct``
    (identical structs).  Ties: neighbour order is (distance,
    match_key); vote ties pick the smallest class (deterministic, SQL-
    oracle-matching).  Output: (base_key, pred_cls, n_votes).

    ``match_key`` must order identically in Spark and SQL (use a
    numeric key); ``match_count`` as in :func:`match_closest_points`.
    """
    if match_count is None:
        match_count = match.count()
    # coarse rung sized so the first ring holds ~k candidates; ceil
    # (not floor): the next-finer grid quarters the candidate volume
    # and the k-th-NN distance concentrates tighter than the 1-NN, so
    # a ~2.5x cell/exp_nn margin still resolves the vast majority
    # (measured at sf0.1: res 4 -> 2.2M candidates, res 5 -> ~550k)
    exp_nn = 0.5 * math.sqrt(max(k, 1)) / math.sqrt(
        max(match_count, 1) / (360.0 * 180.0))
    res_c = int(max(1, min(res,
                           math.ceil(math.log2(180.0 / (3.0 * exp_nn))))))

    def _topk(cand):
        part = cand.groupBy(
            "_bkey", F.pmod(F.xxhash64(F.col("_mkey")), F.lit(n_salt))
            .alias("_sg")
        ).agg(F.expr(
            f"slice(array_sort(array_distinct("
            f"collect_list(struct(_d, _mkey, _cls)))), 1, {k})"
        ).alias("_p"))
        return part.groupBy("_bkey").agg(F.expr(
            f"slice(array_sort(array_distinct(flatten(collect_list(_p)))),"
            f" 1, {k})"
        ).alias("_t"))

    topk = _ladder(
        _keyed(base, "b", base_key, base_lon, base_lat, res_c),
        _keyed(match, "m", match_key, match_lon, match_lat, res_c,
               F.col(class_col).alias("_cls")),
        res_c, _topk,
        lambda cell_h: (F.size("_t") >= k)
        & (F.element_at("_t", k)["_d"] < F.lit(cell_h)))
    return (
        topk.select("_bkey", F.explode("_t").alias("_nb"))
        .groupBy("_bkey", F.col("_nb._cls").alias("_c"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("_bkey")
        .agg(F.max(F.struct(F.col("_n"), (-F.col("_c")).alias("_negc")))
             .alias("_w"))
        .select(F.col("_bkey").alias(base_key),
                (-F.col("_w._negc")).alias("pred_cls"),
                F.col("_w._n").alias("n_votes"))
    )


def npts_in_radius(
    points: DataFrame,
    radius: float,
    *,
    key: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_RES,
    out_col: str = "n_pts_r",
) -> DataFrame:
    """Same-layer inclusive radius count minus self (calc_npts_in_radius).

    K = ceil(radius / cell_height) rings bound the search; all arithmetic
    is Catalyst columns (no UDF).  Output = input columns + ``out_col``.
    """
    n = 1 << res
    cell_h = 180.0 / n
    K = max(1, int(math.ceil(radius / cell_h)) + 1)

    p_nx, p_ny = _cell_parts(F.col(lon), F.col(lat), res)
    keyed = points.select(
        F.col(key).alias("_k"), F.col(lon).alias("_lon"),
        F.col(lat).alias("_lat"),
        (p_nx * F.lit(_X_SHIFT) + p_ny).alias("_xy"),
    )
    probe = _ring(
        points.select(F.col(key).alias("_bk"), F.col(lon).alias("_blon"),
                      F.col(lat).alias("_blat")),
        *_cell_parts(F.col("_blon"), F.col("_blat"), res), K, n)
    counts = (
        probe.join(keyed, "_xy", "inner")
        .where(_dist(F.col("_blon"), F.col("_blat"),
                     F.col("_lon"), F.col("_lat")) <= radius)
        .groupBy("_bk")
        .agg((F.count(F.lit(1)) - 1).alias(out_col))
        .withColumnRenamed("_bk", key)
    )
    return points.join(counts, key, "left").fillna({out_col: 0})
