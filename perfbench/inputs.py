"""Seeded inputs. The same seed gives the same inputs; the program sees only
what these functions generate.

Each generator has a numpy side (used by the oracles and the unit tests) and,
where the engine consumes a DataFrame, a Spark side that evaluates the same
integer arithmetic with the engine's own public Column helpers.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

# pip_flagship: image keys feed cells.synth_phash, which is overflow-free for
# keys below ~8e9; the seed picks one of 3000 disjoint 2M-key ranges.
KEY_STRIDE = 2_000_000
KEY_RANGES = 3000
HOT_PER_MILLE = 200  # 20 % of the images land in the megacity box
N_POLYGONS = 200

# gate_sides: node i links to a random earlier node of its block of TREE
# nodes (xxhash64(i, seed)), so components are small trees and the
# distributed loops converge in a few rounds.
TREE = 4

# registry_iter: table sizes (sf0.01 proportions) and seeded key offsets.
N_DOCUMENTS = 500
N_ORDERS = 15_000


def image_key0(seed: int) -> int:
    return (seed % KEY_RANGES) * KEY_STRIDE


def np_synth_phash(key: np.ndarray) -> np.ndarray:
    """numpy twin of engine.cells.synth_phash (same int64 arithmetic)."""
    key = key.astype(np.int64)
    x = (key * 1103515245 + 12345) % (1 << 32)
    y = (key * 134775813 + 1) % (1 << 31)
    return y * (1 << 32) + x


def _hot_box() -> tuple[int, int, int, int]:
    """(x0, xw, y0, yw) of the megacity box in phash x/y units."""
    from engine import synth

    x0 = int((synth.HOT_LON_MIN + 180.0) / 360.0 * 2**32)
    xw = max(1, int(synth.HOT_BOX_DEG / 360.0 * 2**32))
    y0 = int((synth.HOT_LAT_MIN + 90.0) / 180.0 * 2**31)
    yw = max(1, int(synth.HOT_BOX_DEG / 180.0 * 2**31))
    return x0, xw, y0, yw


def np_image_xy(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Integer anchor coordinates (phash x, phash y) of the n seeded images."""
    key = np.arange(image_key0(seed), image_key0(seed) + n, dtype=np.int64)
    ph = np_synth_phash(key)
    x, y = ph % (1 << 32), (ph >> 32) % (1 << 31)
    hot = key % 1000 < HOT_PER_MILLE
    x0, xw, y0, yw = _hot_box()
    return np.where(hot, x0 + x % xw, x), np.where(hot, y0 + y % yw, y)


def np_image_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of the n seeded image anchors, bit-identical to
    `image_points` (same integer math, same double operation order)."""
    x, y = np_image_xy(seed, n)
    lon = x.astype(np.float64) / float(2**32) * 360.0 - 180.0
    lat = y.astype(np.float64) / float(2**31) * 180.0 - 90.0
    return lon, lat


def image_points(spark, seed: int, n: int, partitions: int):
    """(image_id, phash, lon, lat) for n seeded images: cells.synth_phash over
    the seed's key range, 20 % remapped into the megacity box."""
    from pyspark.sql import functions as F

    from engine import cells

    key = F.col("id")
    ph = cells.synth_phash(key)
    x0, xw, y0, yw = _hot_box()
    hot_ph = (F.lit(y0) + cells.phash_y(ph) % F.lit(yw)) * F.lit(2**32) + (
        F.lit(x0) + cells.phash_x(ph) % F.lit(xw)
    )
    ph = F.when(key % 1000 < HOT_PER_MILLE, hot_ph).otherwise(ph)
    k0 = image_key0(seed)
    return spark.range(k0, k0 + n, 1, partitions).select(
        key.alias("image_id"),
        ph.alias("phash"),
        cells.anchor_lon(ph).alias("lon"),
        cells.anchor_lat(ph).alias("lat"),
    )


def polygon_rows(seed: int, p: int = N_POLYGONS) -> list[dict]:
    """Convex polygons in schema.POLYGONS shape: 5-12 vertices on an ellipse
    around a random centre, every 10th centred in the megacity box (the
    synth.polygons_df recipe, seeded by the benchmark's seed). The ellipse
    radii are stratified — a seeded shuffle of evenly spaced values — so the
    total polygon area, and with it the join's work, barely moves between
    seeds while shapes and placement do."""
    from engine import synth

    rng = np.random.default_rng([seed, 7])
    epoch = dt.datetime(2017, 1, 1)
    span = dt.datetime(2021, 1, 1) - epoch
    hot = np.arange(p) % 10 == 0

    def radii(n):
        return (rng.permutation(n) + 0.5) / n, (rng.permutation(n) + 0.5) / n

    hot_r = iter(zip(*radii(int(hot.sum()))))
    cold_r = iter(zip(*radii(int((~hot).sum()))))
    rows = []
    for i in range(p):
        if hot[i]:
            clon = synth.HOT_LON_MIN + rng.random() * synth.HOT_BOX_DEG
            clat = synth.HOT_LAT_MIN + rng.random() * synth.HOT_BOX_DEG
            a, b = next(hot_r)
            rlon, rlat = 0.05 + a * 0.3, 0.05 + b * 0.3
        else:
            clon, clat = rng.uniform(-170, 170), rng.uniform(-80, 80)
            a, b = next(cold_r)
            rlon, rlat = (0.5 + a * 8.0) * 2.0, (0.5 + b * 6.0) * 2.0
        nv = int(rng.integers(5, 13))
        angles = np.sort(rng.uniform(0, 2 * np.pi, nv))
        lons = clon + rlon * np.cos(angles)
        lats = clat + rlat * np.sin(angles)
        rows.append({
            "poly_id": i,
            "ring": [{"lon": float(a), "lat": float(b)} for a, b in zip(lons, lats)],
            "bbox": {"min": {"lon": float(lons.min()), "lat": float(lats.min())},
                     "max": {"lon": float(lons.max()), "lat": float(lats.max())}},
            "valid_from": epoch + (i / p) * span,
            "valid_to": epoch + ((i + 1) / p) * span,
        })
    return rows


def edges(spark, seed: int, n_ids: int, partitions: int):
    """(u, v, w) edge list: for id in [0, n_ids) with id % TREE != 0, u = id
    and v is an earlier node of the same TREE-node block, both picked by
    xxhash64(id, seed); w in 1..9 from xxhash64(id, seed + 1). No self-loops,
    no duplicate pairs: n_ids * (TREE - 1) / TREE edges."""
    from pyspark.sql import functions as F

    i = F.col("id")
    off = F.pmod(i, F.lit(TREE))
    v = i - off + F.pmod(F.xxhash64(i, F.lit(seed)), F.greatest(off, F.lit(1)))
    w = F.pmod(F.xxhash64(i, F.lit(seed + 1)), F.lit(9)) + 1
    return spark.range(0, n_ids, 1, partitions).filter(off > 0).select(
        i.alias("u"), v.alias("v"), w.alias("w")
    )


def edge_ids_for(n_edges: int) -> int:
    """Smallest id range whose edge list has at least n_edges edges."""
    return -(-n_edges * TREE // (TREE - 1))


def registry_offsets(seed: int) -> tuple[int, int]:
    """Seeded key offsets for the registry tables (multiples of 100, so the
    knn query set `doc_id % 100 == 0` keeps its size)."""
    rng = np.random.default_rng([seed, 11])
    return int(rng.integers(0, 10_000)) * 100, int(rng.integers(0, 10_000)) * 100


def write_registry_tables(sf_dir: str, seed: int) -> dict:
    """documents.parquet (doc_id) and orders.parquet (o_orderkey) with seeded
    contiguous key ranges: the only columns the knn, routing and raster_field
    queries and their DuckDB twins read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d0, o0 = registry_offsets(seed)
    pq.write_table(
        pa.table({"doc_id": np.arange(d0, d0 + N_DOCUMENTS, dtype=np.int64)}),
        f"{sf_dir}/documents.parquet",
    )
    pq.write_table(
        pa.table({"o_orderkey": np.arange(o0, o0 + N_ORDERS, dtype=np.int64)}),
        f"{sf_dir}/orders.parquet",
    )
    return {"documents": [d0, N_DOCUMENTS], "orders": [o0, N_ORDERS]}
