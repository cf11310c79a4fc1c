"""Seeded input generator for the benchmark workloads.

Writes the three driver tables the engine synthesizes its world from
(``part`` -> images, ``nation`` -> zones, ``supplier`` -> query points),
plus the catalog request stream and the ingest deltas.  The same seed
gives byte-identical tables and the same request stream.

Image ids are distinct keys drawn from ``[0, ID_RANGE_FACTOR * n)``: a
bounded range keeps the engine's per-id coordinate jitter (``id / 1e8``
degrees) sub-degree, so every megacity image (``id % 5 == 0``) stays in
zone 0 and about 21% of images match a zone.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ID_RANGE_FACTOR = 4
N_ZONES = 25          # the engine derives one rectangular zone per nation
N_QPOINTS = 2000      # supplier rows = query-point pool for kNN requests

#: one round of catalog requests: every type twice, in a fixed order.  Only
#: the parameters depend on the seed, and the loop measures whole rounds,
#: so every run sees the same type mix and its median compares across runs.
REQUEST_CYCLE = (
    "spatial_join", "tile_specs", "knn", "spatial_select", "npts_radius",
    "zonal", "tile_specs", "spatial_join", "spatial_select", "knn", "zonal",
    "npts_radius",
)
#: warm-up before the loop: a request with both JVM and Python stages
WARMUP_TYPES = ("zonal",)


def rng_for(seed: int, tag: str) -> np.random.Generator:
    """An independent stream per (seed, purpose)."""
    return np.random.default_rng([seed, sum(map(ord, tag))])


def draw_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct ids from the bounded range, in draw order."""
    return rng.choice(ID_RANGE_FACTOR * n, size=n, replace=False).astype(np.int64)


def write_tables(out_dir: str, ids: np.ndarray) -> None:
    """``part`` (one row per image id), ``nation`` and ``supplier``, with the
    columns the engine's synthesis reads."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({"p_partkey": pa.array(np.sort(ids), pa.int64())}),
                   os.path.join(out_dir, "part.parquet"))
    k = np.arange(N_ZONES, dtype=np.int32)
    pq.write_table(pa.table({"n_nationkey": pa.array(k),
                             "n_name": pa.array([f"NATION_{i}" for i in k])}),
                   os.path.join(out_dir, "nation.parquet"))
    pq.write_table(pa.table({"s_suppkey": pa.array(np.arange(N_QPOINTS),
                                                   pa.int64())}),
                   os.path.join(out_dir, "supplier.parquet"))


def _scatter_roi(rng, half_deg: tuple[float, float]) -> dict:
    """A random bbox in the scattered (non-megacity) part of the world."""
    cx = rng.uniform(-170.0, 170.0)
    cy = rng.uniform(-55.0, 55.0)
    hx = rng.uniform(*half_deg)
    hy = rng.uniform(*half_deg)
    if abs(cx - 10.0) < hx + 1.0 and abs(cy - 45.0) < hy + 1.0:
        cx += 2.0 * hx + 3.0          # keep clear of the megacity
    return {"xmin": cx - hx, "xmax": cx + hx, "ymin": cy - hy, "ymax": cy + hy}


def draw_request(rng: np.random.Generator, kind: str, n_images: int) -> dict:
    """One catalog request with freshly drawn parameters."""
    if kind == "spatial_select":
        return {"type": kind, **_scatter_roi(rng, (5.0, 30.0))}
    if kind == "spatial_join":
        k = int(rng.integers(2, 9))
        zones = sorted(int(z) for z in rng.choice(N_ZONES, k, replace=False))
        return {"type": kind, "zones": zones}
    if kind == "knn":
        k = int(rng.integers(8, 33))
        qids = sorted(int(q) for q in rng.choice(N_QPOINTS, k, replace=False))
        return {"type": kind, "qids": qids}
    if kind == "npts_radius":
        return {"type": kind, "radius": float(rng.uniform(0.05, 0.4)),
                **_scatter_roi(rng, (3.0, 6.0))}
    if kind == "tile_specs":
        span = int(rng.integers(500, 5000))
        lo = int(rng.integers(0, max(1, ID_RANGE_FACTOR * n_images - span)))
        return {"type": kind, "id_lo": lo, "id_hi": lo + span}
    if kind == "zonal":
        roi = _scatter_roi(rng, (3.0, 5.0))
        n_z = int(rng.integers(1, 4))
        zones = []
        for z in range(n_z):
            x0 = rng.uniform(roi["xmin"], roi["xmax"] - 1.0)
            y0 = rng.uniform(roi["ymin"], roi["ymax"] - 1.0)
            zones.append({"zone_id": z, "zxmin": x0,
                          "zxmax": x0 + rng.uniform(0.2, 1.0),
                          "zymin": y0, "zymax": y0 + rng.uniform(0.2, 1.0)})
        return {"type": kind, **roi, "zones": zones}
    raise ValueError(f"unknown request type {kind!r}")


def request_stream(rng: np.random.Generator, n: int, n_images: int) -> list:
    return [draw_request(rng, REQUEST_CYCLE[i % len(REQUEST_CYCLE)], n_images)
            for i in range(n)]


def generate(out_dir: str, workload: str, seed: int, params: dict) -> dict:
    """Write every input of ``workload`` under ``out_dir``; return a manifest.

    ``params`` holds the sizes (see ``workloads.SIZES``); the manifest echoes
    them with the seed so the run's output records what it measured.
    """
    rng = rng_for(seed, workload)
    manifest = {"workload": workload, "seed": seed,
                "id_range_factor": ID_RANGE_FACTOR, **params}
    if workload in ("tile_batch", "catalog_interactive"):
        write_tables(os.path.join(out_dir, "tables"),
                     draw_ids(rng, params["n_images"]))
        if workload == "tile_batch":
            write_tables(os.path.join(out_dir, "warm"),
                         draw_ids(rng_for(seed, "warm"), params["n_warm_images"]))
        else:
            manifest["request_cycle"] = REQUEST_CYCLE
            manifest["requests"] = request_stream(
                rng, params["n_requests"], params["n_images"])
            manifest["warmup_requests"] = [
                draw_request(rng, k, params["n_images"]) for k in WARMUP_TYPES]
    elif workload == "incremental_ingest":
        n_base, n_delta, n_ops = (params["n_base"], params["n_delta"],
                                  params["n_deltas"])
        ids = draw_ids(rng, n_base + n_delta * n_ops)
        base = ids[:n_base]
        write_tables(os.path.join(out_dir, "base"), base)
        for k in range(n_ops):
            delta = ids[n_base + k * n_delta:n_base + (k + 1) * n_delta]
            write_tables(os.path.join(out_dir, f"delta_{k}"),
                         np.concatenate([base, delta]))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest
