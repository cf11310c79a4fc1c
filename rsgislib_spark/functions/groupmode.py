"""Exact per-group value counts and modes in numpy, for any integer type.

The engine's one numpy mode: the RAT's ``populate_rat_with_mode``, the
``apply_mode_filter`` window and ``INTERP_MODE`` resampling all call
:func:`group_mode`, and the mosaic mode's per-batch partials come from
:func:`pair_counts`.  Both sort ``(key, value)`` pairs, so no value or
key range is assumed (Spark's form of the same mode is a
``max(struct(count, -value))`` aggregate, ``mosaic.mosaic_mode_window``
and ``utmops.utm_zone_mode``).
"""

from __future__ import annotations

import numpy as np

__all__ = ["pair_counts", "group_mode"]


def pair_counts(keys: np.ndarray, vals: np.ndarray):
    """``(key, value, count)`` arrays: each distinct pair of the two
    equal-length 1-D arrays once, in ascending (key, value) order, with
    the number of times it occurs."""
    order = np.lexsort((vals, keys))
    k, v = keys[order], vals[order]
    new = np.ones(k.shape, dtype=bool)
    new[1:] = (k[1:] != k[:-1]) | (v[1:] != v[:-1])
    starts = np.flatnonzero(new)
    return k[starts], v[starts], np.diff(np.append(starts, k.size))


def group_mode(keys: np.ndarray, vals: np.ndarray, n: int) -> np.ndarray:
    """Per-key modal value for integer keys in ``[0, n]``, ties ->
    smallest value (the reference's ascending-histogram first-maximum
    order); ``out[k]`` is 0 for a key that does not occur."""
    gk, gv, cnt = pair_counts(keys, vals)
    # sort by (key, -count, value): the first row per key is its mode
    sel = np.lexsort((gv, -cnt, gk))
    gk, gv = gk[sel], gv[sel]
    first = np.ones(gk.shape, dtype=bool)
    first[1:] = gk[1:] != gk[:-1]
    mode = np.zeros(n + 1, dtype=np.int64)
    mode[gk[first]] = gv[first]
    return mode
