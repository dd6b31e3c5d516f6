"""Seeded inputs and expected answers for the perfbench workloads.

Everything here is plain numpy/pyarrow: the expected answers are computed
without importing ``geopandas_spark``, so an engine bug cannot hide in
its own oracle. ``ensure_inputs(workload, seed, cache_dir, scale)`` writes
the GeoParquet inputs (pyarrow defaults, no hand-tuned layout) plus an
``oracle.json`` into a per-seed directory and returns its manifest; a
second call with the same arguments reuses the directory.
"""

import json
import math
import os
import shutil
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("geo_etl", "doc_dedup")

# Input sizes per scale. "full" is what the benchmark measures; "toy" is
# the smoke test's size.
SIZES = {
    "full": {
        "geo_etl": {"polygons": 500, "lattice": 8, "features": 40,
                    "tiles": 6},
        "doc_dedup": {"originals": 300, "dups": 30},
    },
    "toy": {
        "geo_etl": {"polygons": 200, "lattice": 6, "features": 24,
                    "tiles": 5},
        "doc_dedup": {"originals": 120, "dups": 12},
    },
}

DOMAIN = 1000.0          # overlay features and tiles lie in [0, DOMAIN]^2
SIMPLIFY_TOL_M = 1.0     # polygon_etl simplify tolerance (metres)
BUFFER_M = 5.0           # polygon_etl buffer distance (metres)
BUFFER_EVERY = 50        # polygon_etl buffers rows with id % 50 == 0
UTM_EPSG = "EPSG:32631"  # polygon_etl target CRS (UTM zone 31N)
N_CLASSES = 8            # overlay_dissolve tile classes
SHINGLE_K = 5            # doc_dedup character shingle length

_MANIFEST = "manifest.json"
_FORMAT = 2              # bumped when a manifest or oracle changes shape


# ---------------------------------------------------------------------------
# WKB / GeoParquet writing
# ---------------------------------------------------------------------------

def _wkb_polygon(ring):
    """Single-ring polygon; ``ring`` is (n, 2) and closed."""
    ring = np.ascontiguousarray(ring, dtype="<f8")
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.tobytes()


def _write_parquet(path, columns, geometry_types=None):
    """One-file dataset directory; GeoParquet ``geo`` metadata when
    ``geometry_types`` is given."""
    table = pa.table(columns)
    if geometry_types is not None:
        geo = {"version": "1.0.0", "primary_column": "geom",
               "columns": {"geom": {"encoding": "WKB",
                                    "geometry_types": geometry_types}}}
        table = table.replace_schema_metadata(
            {b"geo": json.dumps(geo).encode()})
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _closed(xy):
    return np.vstack([xy, xy[:1]])


def _star(rng, cx, cy, radius, nv, rmin):
    """Star-shaped simple polygon: strictly increasing angles, random
    radii in [rmin*radius, radius]. Returns a closed (nv+1, 2) ring."""
    ang = 2 * np.pi * (np.arange(nv) + rng.uniform(0, 0.8, nv)) / nv
    r = radius * rng.uniform(rmin, 1.0, nv)
    return _closed(np.column_stack([cx + r * np.cos(ang),
                                    cy + r * np.sin(ang)]))


def shoelace(ring):
    # relative to the first vertex: projected coordinates are ~1e6, and
    # their raw cross products would lose the area's low digits
    x, y = ring[:, 0] - ring[0, 0], ring[:, 1] - ring[0, 1]
    return 0.5 * abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])))


def shoelace_centroid(ring):
    """Area centroid of a closed simple ring, as [x, y]."""
    x, y = ring[:, 0] - ring[0, 0], ring[:, 1] - ring[0, 1]
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    a6 = 3.0 * float(cross.sum())
    return [float(ring[0, 0] + np.dot(x[:-1] + x[1:], cross) / a6),
            float(ring[0, 1] + np.dot(y[:-1] + y[1:], cross) / a6)]


def perimeter(ring):
    return float(np.hypot(*np.diff(ring, axis=0).T).sum())


# ---------------------------------------------------------------------------
# polygon_etl
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1 / 298.257223563


def utm_forward(lon, lat, zone):
    """Transverse Mercator (Krueger series to n^6) for a northern UTM
    zone; the oracle's own projection, independent of the engine's."""
    n = _WGS84_F / (2 - _WGS84_F)
    e = math.sqrt(_WGS84_F * (2 - _WGS84_F))
    big_a = _WGS84_A / (1 + n) * (1 + n**2 / 4 + n**4 / 64 + n**6 / 256)
    alpha = (
        n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16 + 41 * n**4 / 180
        - 127 * n**5 / 288 + 7891 * n**6 / 37800,
        13 * n**2 / 48 - 3 * n**3 / 5 + 557 * n**4 / 1440
        + 281 * n**5 / 630 - 1983433 * n**6 / 1935360,
        61 * n**3 / 240 - 103 * n**4 / 140 + 15061 * n**5 / 26880
        + 167603 * n**6 / 181440,
        49561 * n**4 / 161280 - 179 * n**5 / 168 + 6601661 * n**6 / 7257600,
        34729 * n**5 / 80640 - 3418889 * n**6 / 1995840,
        212378941 * n**6 / 319334400,
    )
    phi = np.radians(lat)
    lam = np.radians(lon - (6 * zone - 183))
    s = np.sin(phi)
    t = np.sinh(np.arctanh(s) - e * np.arctanh(e * s))
    xi0 = np.arctan2(t, np.cos(lam))
    eta0 = np.arctanh(np.sin(lam) / np.sqrt(1 + t * t))
    xi, eta = xi0.copy(), eta0.copy()
    for j, a in enumerate(alpha, start=1):
        xi += a * np.sin(2 * j * xi0) * np.cosh(2 * j * eta0)
        eta += a * np.cos(2 * j * xi0) * np.sinh(2 * j * eta0)
    k0 = 0.9996
    return 500000.0 + k0 * big_a * eta, k0 * big_a * xi


def _gen_polygon_etl(rng, size, out):
    m = size["polygons"]
    n_bad = max(1, m // 100)
    bad = set(rng.choice(m, n_bad, replace=False).tolist())
    lon0 = rng.uniform(0.5, 5.5, m)
    lat0 = rng.uniform(42.0, 48.0, m)
    rad_m = rng.uniform(8.0, 40.0, m)
    nvs = rng.integers(5, 13, m)
    zone = int(UTM_EPSG[-2:])
    m_per_deg_lat = 111_320.0
    wkb, areas, centroids, perimeters = [], {}, {}, {}
    bx0 = by0 = math.inf
    bx1 = by1 = -math.inf
    for i in range(m):
        m_per_deg_lon = 111_320.0 * math.cos(math.radians(lat0[i]))
        if i in bad:
            # bowtie: a square with two corners swapped self-intersects
            r = rad_m[i]
            off = np.array([[-r, -r], [r, r], [r, -r], [-r, r]])
            ring = _closed(off)
        else:
            ring = _star(rng, 0.0, 0.0, rad_m[i], nvs[i], 0.7)
        lon = lon0[i] + ring[:, 0] / m_per_deg_lon
        lat = lat0[i] + ring[:, 1] / m_per_deg_lat
        wkb.append(_wkb_polygon(np.column_stack([lon, lat])))
        ex, ny = utm_forward(lon, lat, zone)
        bx0, by0 = min(bx0, ex.min()), min(by0, ny.min())
        bx1, by1 = max(bx1, ex.max()), max(by1, ny.max())
        if i not in bad:
            utm = np.column_stack([ex, ny])
            areas[str(i)] = shoelace(utm)
            centroids[str(i)] = shoelace_centroid(utm)
            if i % BUFFER_EVERY == 0:
                perimeters[str(i)] = perimeter(utm)
    _write_parquet(os.path.join(out, "footprints"), {
        "id": pa.array(np.arange(m, dtype=np.int64)),
        "geom": pa.array(wkb, pa.binary())}, ["Polygon"])
    return {"rows": m,
            "inputs": {"footprints": "footprints"},
            "oracle": {"invalid": sorted(bad), "areas": areas, "rows": m,
                       "centroids": centroids, "perimeters": perimeters,
                       "bbox": [bx0, by0, bx1, by1]}}


# ---------------------------------------------------------------------------
# overlay_dissolve
# ---------------------------------------------------------------------------

def _clip_convex(subject, clip):
    """Sutherland-Hodgman: closed ``subject`` ring (any simple polygon)
    against a closed, counter-clockwise convex ``clip`` ring. The output
    may carry zero-width slivers, which leave its area exact."""
    poly = list(map(tuple, subject[:-1]))
    for (ax, ay), (bx, by) in zip(clip[:-1], clip[1:]):
        if not poly:
            break
        inp, poly = poly, []

        def side(p):
            return (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax)

        prev = inp[-1]
        sp = side(prev)
        for cur in inp:
            sc = side(cur)
            if sc >= 0:
                if sp < 0:
                    poly.append(_cross(prev, cur, sp, sc))
                poly.append(cur)
            elif sp >= 0:
                poly.append(_cross(prev, cur, sp, sc))
            prev, sp = cur, sc
    if len(poly) < 3:
        return 0.0
    return shoelace(_closed(np.array(poly)))


def _cross(p, q, sp, sq):
    t = sp / (sp - sq)
    return (p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1]))


def _gen_overlay_dissolve(rng, size, out):
    k, nf, g = size["lattice"], size["features"], size["tiles"]
    # tiles: a g x g grid whose interior vertices are jittered by <= 0.2
    # cells, which keeps every quad convex and the tiling exact
    cell = DOMAIN / g
    vx = np.tile(np.arange(g + 1) * cell, (g + 1, 1)).T
    vy = np.tile(np.arange(g + 1) * cell, (g + 1, 1))
    jit = rng.uniform(-0.2, 0.2, (g + 1, g + 1, 2)) * cell
    jit[[0, -1], :, :] = 0
    jit[:, [0, -1], :] = 0
    vx, vy = vx + jit[..., 0], vy + jit[..., 1]
    tiles, tclass = [], rng.integers(0, N_CLASSES, g * g)
    for i in range(g):
        for j in range(g):
            quad = np.array([[vx[i, j], vy[i, j]], [vx[i + 1, j], vy[i + 1, j]],
                             [vx[i + 1, j + 1], vy[i + 1, j + 1]],
                             [vx[i, j + 1], vy[i, j + 1]]])
            tiles.append(_closed(quad))
    # features: stars on a jittered k x k lattice; radius <= 0.33 of the
    # lattice step and centre jitter <= 0.15 keep them pairwise disjoint
    step = DOMAIN / k
    cells = rng.choice(k * k, nf, replace=False)
    feats = []
    for c in cells:
        cx = (c // k + 0.5 + rng.uniform(-0.15, 0.15)) * step
        cy = (c % k + 0.5 + rng.uniform(-0.15, 0.15)) * step
        feats.append(_star(rng, cx, cy, rng.uniform(0.2, 0.33) * step,
                           rng.integers(8, 49), 0.5))

    tb = np.array([[t[:, 0].min(), t[:, 1].min(), t[:, 0].max(),
                    t[:, 1].max()] for t in tiles])
    class_area = np.zeros(N_CLASSES)
    feat_area = {}
    pairs = 0
    for fid, f in enumerate(feats):
        fx0, fy0 = f[:, 0].min(), f[:, 1].min()
        fx1, fy1 = f[:, 0].max(), f[:, 1].max()
        hit = np.nonzero((tb[:, 0] <= fx1) & (tb[:, 2] >= fx0) &
                         (tb[:, 1] <= fy1) & (tb[:, 3] >= fy0))[0]
        pieces = 0.0
        for t in hit:
            a = _clip_convex(f, tiles[t])
            if a > 0:
                pieces += a
                class_area[tclass[t]] += a
                pairs += 1
        feat_area[str(fid)] = shoelace(f)
        # the tiling covers the domain, so the pieces must add back up
        if abs(pieces - feat_area[str(fid)]) > 1e-9 * feat_area[str(fid)]:
            raise AssertionError(f"oracle clipping lost area on feature {fid}")

    _write_parquet(os.path.join(out, "features"), {
        "fid": pa.array(np.arange(nf, dtype=np.int64)),
        "geom": pa.array([_wkb_polygon(f) for f in feats], pa.binary())},
        ["Polygon"])
    _write_parquet(os.path.join(out, "tiles"), {
        "tile_id": pa.array(np.arange(g * g, dtype=np.int64)),
        "class": pa.array(tclass.astype(np.int64)),
        "geom": pa.array([_wkb_polygon(t) for t in tiles], pa.binary())},
        ["Polygon"])
    return {"rows": nf + g * g,
            "inputs": {"features": "features", "tiles": "tiles"},
            "oracle": {"class_area": {str(c): float(a) for c, a in
                                      enumerate(class_area) if a > 0},
                       "feature_area": feat_area,
                       "pieces": pairs}}


# ---------------------------------------------------------------------------
# doc_dedup
# ---------------------------------------------------------------------------

def shingle_set(text, k=SHINGLE_K):
    return {text[i:i + k] for i in range(max(1, len(text) - k + 1))}


def jaccard(a, b):
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def _gen_doc_dedup(rng, size, out):
    n_orig, n_dup = size["originals"], size["dups"]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lex = sorted({"".join(rng.choice(letters, rng.integers(2, 11)))
                  for _ in range(6000)})
    lex = [lex[i] for i in rng.permutation(len(lex))]
    p = 1.0 / np.arange(1, len(lex) + 1) ** 1.1
    p /= p.sum()
    docs = [" ".join(lex[w] for w in rng.choice(len(lex), rng.integers(90, 140),
                                                p=p))
            for _ in range(n_orig)]
    src = rng.choice(n_orig, n_dup, replace=False)
    for s in src:
        words = docs[s].split(" ")
        # single edit: one word replaced by a different lexicon word
        while True:
            pos = rng.integers(len(words))
            new = lex[rng.integers(len(lex))]
            if new != words[pos]:
                break
        words[pos] = new
        dup = " ".join(words)
        if jaccard(docs[s], dup) < 0.9:
            raise AssertionError("planted duplicate is not near enough")
        docs.append(dup)
    ids = rng.permutation(len(docs)).astype(np.int64) + 1
    # each cluster is an original plus its planted copy; fuzzy_dedup keeps
    # the minimum id of a cluster
    removed = [int(max(ids[s], ids[n_orig + j])) for j, s in enumerate(src)]
    _write_parquet(os.path.join(out, "docs"), {
        "doc_id": pa.array(ids), "text": pa.array(docs, pa.string())})
    return {"rows": len(docs),
            "inputs": {"docs": "docs"},
            "oracle": {"removed": sorted(removed),
                       "survivors": len(docs) - n_dup}}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def _gen_geo_etl(rng, size, out):
    """Both geometry pipelines' inputs; their oracle keys are disjoint."""
    etl = _gen_polygon_etl(rng, {"polygons": size["polygons"]}, out)
    ovl = _gen_overlay_dissolve(
        rng, {k: size[k] for k in ("lattice", "features", "tiles")}, out)
    return {"rows": etl["rows"] + ovl["rows"],
            "inputs": {**etl["inputs"], **ovl["inputs"]},
            "oracle": {**etl["oracle"], **ovl["oracle"]}}


_GENERATORS = {
    "geo_etl": _gen_geo_etl,
    "doc_dedup": _gen_doc_dedup,
}


def ensure_inputs(workload, seed, cache_dir, scale="full"):
    """Return the manifest of ``workload``'s inputs for ``seed``,
    generating them on first use (the cache key includes the sizes and
    the manifest format). Input paths in the manifest are absolute; ``gen_s`` is the generation time (0.0 on a cache hit)."""
    if workload not in _GENERATORS:
        raise ValueError(f"unknown workload {workload!r}")
    size = SIZES[scale][workload]
    tag = "-".join([f"v{_FORMAT}"] +
                   [f"{k}{v}" for k, v in sorted(size.items())])
    d = os.path.join(cache_dir, f"{workload}-s{seed}-{tag}")
    gen_s = 0.0
    if not os.path.exists(os.path.join(d, _MANIFEST)):
        t0 = time.perf_counter()
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # one stream per (workload, seed): inputs never depend on what
        # else was generated before
        rng = np.random.default_rng([WORKLOADS.index(workload), seed])
        man = _GENERATORS[workload](rng, size, tmp)
        man.update(workload=workload, seed=seed, scale=scale, size=size)
        with open(os.path.join(tmp, _MANIFEST), "w") as f:
            json.dump(man, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        gen_s = time.perf_counter() - t0
    with open(os.path.join(d, _MANIFEST)) as f:
        man = json.load(f)
    man["inputs"] = {k: os.path.join(d, v) for k, v in man["inputs"].items()}
    man["gen_s"] = gen_s
    return man
