"""Test-side reference for the synthetic images table (``synth.images_sql``)."""

import numpy as np


def fmt_of_id(ids) -> np.ndarray:
    """The ``fmt`` column of image ``id``: raw8 / png / raw16 by ``id % 4``."""
    m = np.asarray(ids) % 4
    out = np.full(m.shape, "raw16", dtype=object)
    out[m == 1] = "raw8"
    out[m == 2] = "png"
    return out
