"""Driver-side kernel timings for the traced run.

Calls the public ``geopandas_spark.geom`` functions directly on one
Arrow-batch-sized sample of the workload's own geometry, outside Spark,
so a kernel's cost is measured without scheduling or serialization. A
kernel the workload does not use reports 0.
"""

import time

import numpy as np
import pyarrow.parquet as pq

from geopandas_spark.geom import algos, crs, wkb

import gen

BATCH = 10_000          # spark.sql.execution.arrow.maxRecordsPerBatch
BUFFER_SAMPLE = 40      # polygons sampled for buffer, the slowest kernel
INTERSECT_PAIRS = 400   # feature x tile pairs sampled for intersection

METRICS = (
    "wkb.decode_us_per_geom", "wkb.encode_us_per_geom",
    "algos.is_valid_us",
    "algos.simplify_us", "algos.buffer_us", "algos.union_all_ms_per_group",
    "clipping.intersection_us_per_pair", "crs.transform_ns_per_coord",
)


def _timed(fn, *args, **kw):
    """(result, seconds): median of three calls."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        res = fn(*args, **kw)
        times.append(time.perf_counter() - t0)
    return res, sorted(times)[1]


def _geoms(path):
    """Up to one Arrow batch of the WKB geometries at ``path``."""
    return pq.read_table(path, columns=["geom"]).column("geom") \
             .to_pylist()[:BATCH]


def kernel_metrics(workload, man):
    out = dict.fromkeys(METRICS, 0.0)
    if workload != "geo_etl":
        return out
    raw = _geoms(man["inputs"]["footprints"])
    ga, t = _timed(wkb.decode, raw)
    out["wkb.decode_us_per_geom"] = t / len(raw) * 1e6
    _, t = _timed(wkb.encode, ga)
    out["wkb.encode_us_per_geom"] = t / len(raw) * 1e6

    # per-row kernels of the ETL part, on the footprints
    n = len(ga)
    _, t = _timed(algos.is_valid, ga)
    out["algos.is_valid_us"] = t / n * 1e6
    utm, t = _timed(crs.transform, ga, "EPSG:4326", gen.UTM_EPSG)
    out["crs.transform_ns_per_coord"] = t / ga.n_coords * 1e9
    _, t = _timed(algos.simplify, utm, gen.SIMPLIFY_TOL_M,
                  preserve_topology=True)
    out["algos.simplify_us"] = t / n * 1e6
    sub = utm.take(np.arange(0, n, gen.BUFFER_EVERY)[:BUFFER_SAMPLE])
    _, t = _timed(algos.buffer, sub, gen.BUFFER_M)
    out["algos.buffer_us"] = t / len(sub) * 1e6

    # set operations of the overlay part, on the features and tiles
    feats = wkb.decode(_geoms(man["inputs"]["features"]))
    t_raw = pq.read_table(man["inputs"]["tiles"],
                          columns=["class", "geom"])
    tiles = wkb.decode(t_raw.column("geom").to_pylist())
    tclass = np.asarray(t_raw.column("class").to_pylist())
    fb, tb = algos.bounds(feats), algos.bounds(tiles)
    li, rj = np.nonzero((fb[:, None, 0] <= tb[None, :, 2]) &
                        (fb[:, None, 2] >= tb[None, :, 0]) &
                        (fb[:, None, 1] <= tb[None, :, 3]) &
                        (fb[:, None, 3] >= tb[None, :, 1]))
    li, rj = li[:INTERSECT_PAIRS], rj[:INTERSECT_PAIRS]
    pieces, t = _timed(algos.intersection, feats.take(li),
                       tiles.take(rj))
    out["clipping.intersection_us_per_pair"] = t / len(li) * 1e6
    groups = [np.nonzero(tclass[rj] == c)[0] for c in range(gen.N_CLASSES)]
    groups = [g for g in groups if len(g)]
    secs = sum(_timed(algos.union_all, pieces.take(g))[1] for g in groups)
    out["algos.union_all_ms_per_group"] = secs / len(groups) * 1e3
    return out
