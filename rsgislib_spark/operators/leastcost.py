"""imagecalc.leastcostpath.perform_least_cost_path_calc
(python/rsgislib/imagecalc/leastcostpath.py:103): least cost path over
a cost-surface raster from a start to a stop coordinate, via
skimage.graph.route_through_array(geometric=True, fully_connected=True)
— MCP_Geometric: an 8-connected move costs
``distance * (cost_from + cost_to) / 2`` with diagonal distance sqrt(2).

Engine variant (documented):

* the cost surface is the 8x8 block-sum pyramid of the decoded plane
  (route_through_array is O(pixels log pixels) per image — the coarse
  grid keeps the oracle's unrolled relaxation tractable while
  exercising the identical algorithm);
* sqrt(2) is quantized to 1414/1000 and the /2 folded out, so every
  edge weight is the exact integer ``D * (c_u + c_v)`` with
  D in {1000 axial, 1414 diagonal} — Dijkstra then has a unique
  total cost and a unique optimal-path NODE SET
  {p : d_start(p) + d_stop(p) == total}, independent of tie-breaking
  (which the reference's float Dijkstra does not guarantee);
* start = top-left grid node, stop = bottom-right grid node.

Emitted per image: the grid shape, the exact total cost, and the
optimal-node-set count / flat-index checksum (the path raster's
invariant content).  The DuckDB oracle replays Bellman-Ford relaxation
unrolled LCP_ROUNDS times from both endpoints; a pytest verifies the
kernel's Dijkstra equals a 48-round relaxation on the corpus (the
round count has converged-with-margin, NOTES lesson 20 discipline).
"""
import heapq

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..functions import codec

__all__ = ["least_cost_path_stats", "LCP_BLOCK", "LCP_ROUNDS",
           "LCP_D_AXIAL", "LCP_D_DIAG", "block_costs", "dijkstra_grid"]

LCP_BLOCK = 8
LCP_ROUNDS = 48
LCP_D_AXIAL = 1000
LCP_D_DIAG = 1414

_OFFS = [(-1, -1, LCP_D_DIAG), (-1, 0, LCP_D_AXIAL), (-1, 1, LCP_D_DIAG),
         (0, -1, LCP_D_AXIAL), (0, 1, LCP_D_AXIAL),
         (1, -1, LCP_D_DIAG), (1, 0, LCP_D_AXIAL), (1, 1, LCP_D_DIAG)]


def block_costs(v: np.ndarray, block: int = LCP_BLOCK) -> np.ndarray:
    """8x8 block sums (remainder blocks clipped at the edges)."""
    h, w = v.shape
    gh = (h + block - 1) // block
    gw = (w + block - 1) // block
    out = np.zeros((gh, gw), dtype=np.int64)
    for gy in range(gh):
        for gx in range(gw):
            out[gy, gx] = v[gy * block:(gy + 1) * block,
                            gx * block:(gx + 1) * block].sum()
    return out


def dijkstra_grid(c: np.ndarray, sy: int, sx: int) -> np.ndarray:
    """Exact integer Dijkstra over the 8-connected grid with edge
    weight D * (c_u + c_v)."""
    gh, gw = c.shape
    INF = np.int64(1) << 62
    dist = np.full((gh, gw), INF, dtype=np.int64)
    dist[sy, sx] = 0
    pq = [(0, sy, sx)]
    while pq:
        d, y, x = heapq.heappop(pq)
        if d > dist[y, x]:
            continue
        cu = int(c[y, x])
        for dy, dx, dd in _OFFS:
            ny, nx = y + dy, x + dx
            if 0 <= ny < gh and 0 <= nx < gw:
                nd = d + dd * (cu + int(c[ny, nx]))
                if nd < dist[ny, nx]:
                    dist[ny, nx] = nd
                    heapq.heappush(pq, (nd, ny, nx))
    return dist


_LCP_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("gw", LongType()),
    StructField("gh", LongType()),
    StructField("total_cost", LongType()),
    StructField("n_opt", LongType()),
    StructField("sum_opt_idx", LongType()),
])


def least_cost_path_stats(images: DataFrame) -> DataFrame:
    def per_image(out, image_id, v):
        c = block_costs(v)
        gh, gw = c.shape
        ds = dijkstra_grid(c, 0, 0)
        dt = dijkstra_grid(c, gh - 1, gw - 1)
        total = int(ds[gh - 1, gw - 1])
        opt = (ds + dt) == total
        ys, xs = np.nonzero(opt)
        out["image_id"].append(image_id)
        out["gw"].append(gw)
        out["gh"].append(gh)
        out["total_cost"].append(total)
        out["n_opt"].append(int(opt.sum()))
        out["sum_opt_idx"].append(
            int((ys.astype(np.int64) * gw + xs).sum()))

    return codec.map_images(images, per_image, _LCP_SCHEMA, dtype=np.int64)
