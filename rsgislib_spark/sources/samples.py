"""Extracted-sample operators: the reference's HDF5 sample-matrix family.

The reference extracts pixel/chip samples into HDF5 matrices for ML and
then manipulates those matrices:

* ``extract_chip_zone_image_band_values_to_hdf`` — for every mask pixel
  equal to ``mask_value``, extract the (chip_size x chip_size) window
  centred on it (python/rsgislib/zonalstats/__init__.py:1674; chipHSize
  = floor(chip_size/2)).  Spark shape: one Arrow pass per image — the
  mask test and the window slice are both vectorized numpy; one output
  row per chip with its aggregate signature (sum/min/max), which is the
  checksummable stand-in for the HDF5 tensor payload (the tensor itself
  would be a binary column at production scale).
* ``split_sample_hdf5_file`` — seeded random 2-way split
  (python/src/zonalstats.cpp:248).  Spark-first substitution: a seeded
  HASH split (md5 of the row key) — same statistical contract, but
  deterministic across engines and cluster sizes, which a seeded RNG
  over a distributed row order is not.
* ``random_sample_hdf5_file`` — seeded subsample
  (python/src/zonalstats.cpp:216); the p1 side of the hash split IS the
  sample, so both reduce to :func:`hash_split`.
* ``msk_h5_smpls_to_finite_values`` — drop rows with any non-finite
  variable, plus optional ``any(var > lower)`` / ``any(var < upper)``
  gates (python/rsgislib/zonalstats/__init__.py:2583 — note the
  reference's limits are ANY-semantics, not ALL).

Scale: chip extraction never shuffles payloads (chips aggregate in the
kernel); the split/finite filters are pure Catalyst row filters that
push down to the scan at 10^12 rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import codec

__all__ = ["chip_extract", "hash_split", "finite_sample_filter"]

_CHIP_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cx", LongType()),
    StructField("cy", LongType()),
    StructField("chip_sum", LongType()),
    StructField("chip_min", LongType()),
    StructField("chip_max", LongType()),
])


def chip_extract(images: DataFrame, mask_value: int = 42,
                 half: int = 3) -> DataFrame:
    """Chips of size (2*half+1)^2 centred on pixels == ``mask_value``.

    Mirrors extract_chip_zone_image_band_values_to_hdf with the image's
    own plane standing in for the mask band (mask == value selects the
    centres).  Partial chips at the border are skipped (the reference
    pads via RIOS overlap reads; a skipped margin keeps every emitted
    chip exact).  One row per chip: centre + sum/min/max signature.
    """
    k = 2 * half + 1

    def per_image(out, image_id, arr):
        h, w = arr.shape
        if w < k or h < k:
            return
        inner = arr[half:h - half, half:w - half]
        cys, cxs = np.nonzero(inner == mask_value)
        if cys.size == 0:
            return
        win = np.lib.stride_tricks.sliding_window_view(arr, (k, k))
        chips = win[cys, cxs]            # (n, k, k)
        out["image_id"].extend([image_id] * cys.size)
        out["cx"].extend(int(v) for v in (cxs + half))
        out["cy"].extend(int(v) for v in (cys + half))
        out["chip_sum"].extend(int(v) for v in chips.sum(axis=(1, 2)))
        out["chip_min"].extend(int(v) for v in chips.min(axis=(1, 2)))
        out["chip_max"].extend(int(v) for v in chips.max(axis=(1, 2)))

    return codec.map_images(images, per_image, _CHIP_SCHEMA, dtype=np.int64)


def hash_split(df: DataFrame, key: str, threshold_hex: str = "cd") -> DataFrame:
    """Deterministic 2-way split: p1 where the md5 of the key sorts below
    ``threshold_hex`` ('cd' = 205/256 ~ 80%).  Fixed-width hex compares
    lexicographically = numerically, the engine's standard cross-engine
    hash idiom (operators/textops.py).  Pure Catalyst; at scale this is
    a scan-level filter with no shuffle.
    """
    tag = F.substring(F.md5(F.col(key).cast("string")), 1, len(threshold_hex))
    return df.withColumn(
        "split", F.when(tag < F.lit(threshold_hex), F.lit("p1"))
                  .otherwise(F.lit("p2")))


def finite_sample_filter(samples: DataFrame, col: str = "vars",
                         lower: float | None = None,
                         upper: float | None = None) -> DataFrame:
    """msk_h5_smpls_to_finite_values: keep rows whose variable vector is
    ALL-finite, with optional ANY(> lower) / ANY(< upper) gates (the
    reference's numpy.any semantics, zonalstats/__init__.py:2583).
    """
    fin = F.forall(F.col(col),
                   lambda x: (~F.isnan(x))
                   & (F.abs(x) < F.lit(float("inf"))))
    keep = fin
    if lower is not None:
        keep = keep & F.exists(F.col(col), lambda x: x > F.lit(lower))
    if upper is not None:
        keep = keep & F.exists(F.col(col), lambda x: x < F.lit(upper))
    return samples.where(keep)
