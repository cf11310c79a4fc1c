"""timeseries.tmask.run_tmask (python/rsgislib/timeseries/tmask.py:193,
RLMRemoveOutliers:52): Zhu & Woodcock Tmask cloud/shadow screening —
per pixel, robust (RLM, Tukey biweight c=0.4685 as the reference
passes it, maxiter=5) season-trend fits of the green/NIR/SWIR series;
an observation is flagged when NOT (green_delta < threshold AND
(nir_delta > -threshold OR swir_delta > -threshold)) (dropOutliers,
tmask.py:127-144).

Engine variant: the reference fits per pixel over the full archive via
RIOS; here each image contributes SAMPLE_PX deterministic sample
pixels, each with a synthetic 24-step three-band series derived from
the pixel value — seasonal harmonics plus PLANTED green spikes
("cloud") and joint NIR+SWIR dips ("shadow").  The IRLS replays
statsmodels' RLM shape: design [1, cos, sin, cos_c, sin_c], five
weighted-least-squares iterations with Tukey biweight on
MAD/0.6745-scaled residuals.  Float linear algebra is not
SQL-expressible, so this is a ROWS-ONLY entry (like dem_fill/
alpha_shape): the row population (image x sample pixel) is exact, and
pytest invariants assert the planted outliers are flagged and clean
steps are not.
"""
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..functions import codec

__all__ = ["tmask_stats", "TMASK_T", "SAMPLE_PX", "TMASK_THRES"]

TMASK_T = 24
SAMPLE_PX = 8
TMASK_THRES = 40.0
_TUKEY_C = 0.4685
_PI2 = 2.0 * np.pi / 365.25


def _series(v0, t):
    """Three-band series for a pixel of base value v0 at steps t
    (days = 16*t): smooth seasonal signal + planted anomalies."""
    days = 16.0 * t
    base = float(v0)
    green = (base + 20.0 * np.cos(_PI2 * days)
             + ((v0 * (t + 1)) % 13).astype(np.float64))
    nir = (base + 25.0 * np.sin(_PI2 * days)
           + ((v0 * (t + 2)) % 17).astype(np.float64))
    swir = (base + 15.0 * np.cos(_PI2 * days + 1.0)
            + ((v0 * (t + 3)) % 11).astype(np.float64))
    cloud = (v0 + t * 7) % 11 == 0          # bright green spikes
    shadow = (v0 + t * 5) % 13 == 0         # joint nir+swir dips
    green = np.where(cloud, green + 300.0, green)
    nir = np.where(shadow, nir - 300.0, nir)
    swir = np.where(shadow, swir - 300.0, swir)
    return green, nir, swir, cloud, shadow


def _rlm_delta(days, y):
    """IRLS Tukey-biweight fit of y on [1, cos, sin, cos_c, sin_c];
    returns y - prediction (RLMRemoveOutliers.makeRLMModel)."""
    x = np.column_stack([
        np.ones_like(days),
        np.cos(_PI2 * days), np.sin(_PI2 * days),
        np.cos(_PI2 * days / 1.0), np.sin(_PI2 * days / 1.0)])
    # pi_val_change with num_years=1 duplicates pi_val; perturb the
    # change harmonic's period exactly as cleanData does for the
    # archive span (num_years = span/365.25 ~ 1.05)
    ny = (days.max() - days.min()) / 365.25
    x[:, 3] = np.cos(_PI2 * days / max(ny, 1e-9))
    x[:, 4] = np.sin(_PI2 * days / max(ny, 1e-9))
    w = np.ones_like(y)
    beta = None
    for _ in range(5):
        # WLS step via lstsq on the sqrt-weighted system: statsmodels'
        # RLM solves by pseudo-inverse and never raises when the tiny
        # Tukey c collapses most weights to zero — np.linalg.solve on
        # the normal equations went singular there and silently
        # returned all-zero deltas (no flags at all for the band),
        # which is how planted +/-300 anomalies were being missed.
        sw = np.sqrt(w)[:, None]
        beta = np.linalg.lstsq(x * sw, y * sw[:, 0], rcond=None)[0]
        r = y - x @ beta
        mad = np.median(np.abs(r - np.median(r)))
        scale = mad / 0.6745 if mad > 0 else 1.0
        u = r / (scale * _TUKEY_C)
        w = np.where(np.abs(u) < 1.0, (1.0 - u * u) ** 2, 0.0)
        if not w.any():
            w = np.ones_like(y)
    return y - x @ beta


_TMASK_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("px", LongType()),
    StructField("n_flagged", LongType()),
    StructField("n_planted", LongType()),
    StructField("n_hits", LongType()),
])


def tmask_stats(images: DataFrame) -> DataFrame:
    def per_image(out, image_id, v):
        h, w = v.shape
        t = np.arange(TMASK_T, dtype=np.int64)
        days = 16.0 * t
        for i in range(SAMPLE_PX):
            x = (i * 7 + 3) % w
            y = (i * 11 + 5) % h
            v0 = int(v[y, x])
            g, nir, swir, cloud, shadow = _series(
                np.int64(v0), t)
            dg = _rlm_delta(days, g)
            dn = _rlm_delta(days, nir)
            ds = _rlm_delta(days, swir)
            flagged = ~((dg < TMASK_THRES)
                        & ((dn > -TMASK_THRES)
                           | (ds > -TMASK_THRES)))
            planted = cloud | shadow
            out["image_id"].append(image_id)
            out["px"].append(i)
            out["n_flagged"].append(int(flagged.sum()))
            out["n_planted"].append(int(planted.sum()))
            out["n_hits"].append(int((flagged & planted).sum()))

    return codec.map_images(images, per_image, _TMASK_SCHEMA, dtype=np.int64)
