"""Exhaustive-constrained spectral unmixing + endmember extraction.

Reference: imagecalc.specunmixing.exhcon_linear_spec_unmix
(python/src/specunmixing.cpp:56;
RSGISExhaustiveLinearSpectralUnmixing::calcImageValue,
src/img/RSGISLinearSpectralUnmixing.cpp:99-168: grid-search the
2-endmember abundance simplex em1+em2 < 1+step at a fixed step, keep
the first strict minimum in (em1 outer, em2 inner) loop order) and
specunmixing.extract_avg_endmembers (per-class mean spectra).

Engine adaptation (documented deviations): abundances scaled to the
integer grid A = a/step with step 1/4 (A1, A2 in 0..4, A1+A2 <= 4 —
the reference's em1+em2 < 1+step constraint on the step lattice), and
the measured spectrum enters un-normalised (reference divides by its
L2 norm first; gain semantics instead keep every distance the EXACT
integer  sum_b (4*s_b - A1*e1_b - A2*e2_b)^2,  so the argmin and the
first-win tie rule (smallest A1, then A2 — the C++ loop order) are
bit-exact across engines with no sqrt anywhere).
"""
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from .. import synth
from ..functions import codec

__all__ = ["EM_SPECTRA", "UNMIX_STEPS", "exh_unmix_stats",
           "avg_endmember_stats"]

# two synthetic endmember spectra over the (b1, b2) bands
EM_SPECTRA = ((200, 40), (30, 180))
UNMIX_STEPS = 4  # step resolution 1/4

# the constrained abundance grid in C++ loop order (A1 outer, A2 inner)
_COMBOS = [(a1, a2)
           for a1 in range(UNMIX_STEPS + 1)
           for a2 in range(UNMIX_STEPS + 1)
           if a1 + a2 <= UNMIX_STEPS]

_EXH_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("sum_a1", LongType()),
    StructField("sum_a2", LongType()),
    StructField("sum_sse", LongType()),
    StructField("n_full", LongType()),
])


def exh_unmix_stats(images: DataFrame) -> DataFrame:
    """One row per image: exact-integer sums of the argmin abundances,
    the minimum SSE, and the count of pixels on the full-sum face
    (A1+A2 = steps)."""
    e1, e2 = EM_SPECTRA
    S = UNMIX_STEPS

    def per_image(out, image_id, v):
        s1, s2 = v.ravel(), v[:, ::-1].ravel()
        # dists: (n_combos, n_pix) exact ints; argmin axis=0
        # returns the FIRST minimum = the C++ loop-order winner
        d = np.stack([
            (S * s1 - a1 * e1[0] - a2 * e2[0]) ** 2
            + (S * s2 - a1 * e1[1] - a2 * e2[1]) ** 2
            for a1, a2 in _COMBOS])
        k = d.argmin(axis=0)
        a1 = np.array([c[0] for c in _COMBOS], dtype=np.int64)[k]
        a2 = np.array([c[1] for c in _COMBOS], dtype=np.int64)[k]
        sse = d[k, np.arange(d.shape[1])]
        out["image_id"].append(image_id)
        out["n_pix"].append(int(s1.size))
        out["sum_a1"].append(int(a1.sum()))
        out["sum_a2"].append(int(a2.sum()))
        out["sum_sse"].append(int(sse.sum()))
        out["n_full"].append(int((a1 + a2 == S).sum()))

    return codec.map_images(images, per_image, _EXH_SCHEMA, dtype=np.int64)


_AVG_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cls", LongType()),
    StructField("n_pix", LongType()),
    StructField("sum_b1", LongType()),
    StructField("sum_b2", LongType()),
    StructField("mean_b1_q", LongType()),
    StructField("mean_b2_q", LongType()),
])

_Q = 1048576.0


def avg_endmember_stats(images: DataFrame) -> DataFrame:
    """specunmixing.extract_avg_endmembers: mean spectrum per class
    (class plane = b1 quartile, the classification convention); one
    exact-int division per mean, -1 sentinel for empty classes."""

    def per_image(out, image_id, v, fmt):
        m = v[:, ::-1]
        cls = (v * 4) // synth.pmax(fmt)
        for c in range(4):
            sel = cls == c
            n = int(sel.sum())
            sb1, sb2 = int(v[sel].sum()), int(m[sel].sum())
            out["image_id"].append(image_id)
            out["cls"].append(c)
            out["n_pix"].append(n)
            out["sum_b1"].append(sb1)
            out["sum_b2"].append(sb2)
            out["mean_b1_q"].append(
                -1 if n == 0 else
                int(np.floor((float(sb1) / float(n)) * _Q)))
            out["mean_b2_q"].append(
                -1 if n == 0 else
                int(np.floor((float(sb2) / float(n)) * _Q)))

    return codec.map_images(images, per_image, _AVG_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


# --------------------------------------------------------------------------
# calc_ppi — pixel purity index
# --------------------------------------------------------------------------

_PPI_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("ppi_count", LongType()),
])

#: number of pinned projections (the reference's niters with seed)
PPI_NPROJ = 8


def ppi_proj(k: int, b: int) -> int:
    """Pinned integer projection table u[k][b] = ((k*31 + b*7) % 17) - 8.

    The reference draws r = rand(n_bands) - 0.5 per iteration with an
    optional seed (specunmixing/__init__.py:1278-1380, the Boardman
    1995 PPI); the engine pins an integer table with the same role so
    the scores are exact integers and the argmin/argmax oracle-checkable.
    """
    return ((k * 31 + b * 7) % 17) - 8


def ppi_counts(images: DataFrame, n_proj: int = PPI_NPROJ) -> DataFrame:
    """Pixel purity index over three derived bands
    (b0 = v, b1 = (v*7+3) % pmax, b2 = (v*13+5) % pmax).

    Per projection the extreme-score pixels (argmin and argmax, FIRST
    flat index on ties — numpy argmin/argmax semantics, matching the
    reference's numpy.argmin/argmax at :1382-1384) each get +1; emits
    the sparse nonzero count plane (image_id, x, y, ppi_count).
    Mean-centering is omitted: subtracting the band mean shifts every
    score by a constant and cannot change an arg-extreme (docstring
    proof stands in for the reference's explicit centering at :1347).
    One Arrow pass, zero shuffles.
    """

    def per_image(out, image_id, v, fmt):
        _, w = v.shape
        v = v.ravel()
        pmax = synth.pmax(fmt)
        bands = [v, (v * 7 + 3) % pmax, (v * 13 + 5) % pmax]
        counts = {}
        for k in range(n_proj):
            s = sum(ppi_proj(k, b) * bands[b] for b in range(3))
            imin = int(np.argmin(s))
            imax = int(np.argmax(s))
            counts[imin] = counts.get(imin, 0) + 1
            counts[imax] = counts.get(imax, 0) + 1
        for idx in sorted(counts):
            out["image_id"].append(image_id)
            out["x"].append(idx % w)
            out["y"].append(idx // w)
            out["ppi_count"].append(counts[idx])

    return codec.map_images(images, per_image, _PPI_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)
