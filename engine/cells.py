"""Cell-index kernel: grid (Column-only), hex and S2-style (vectorized numpy).

This is the graft analog of the reference's packed 63-bit global-ID discipline
(/root/reference/src/main/scala/com/michaelsteffen/osm/osmdata/OSMDataUtils.scala:5-21):
identity + hierarchy packed into one int64, type/level recoverable by arithmetic.

Three index families (all from scratch — no external geo libs, per SURVEY.md §7.0):

1. **Grid** (primary; used by PIP/kNN/tiles): equirectangular quadtree.
   res r in [0, 28]; the world is a 2^r x 2^r grid over lon [-180,180) x lat [-90,90).
   cell_id = r * 2^58 + ix * 2^29 + iy   (ix, iy < 2^28 < 2^29).
   Pure integer Column math end-to-end — Catalyst folds it into whole-stage codegen;
   the identical arithmetic is expressible in ANSI SQL for the DuckDB oracle.
   Aperture 4: parent(r-1) = (ix//2, iy//2) — exact containment.

2. **Hex** (H3-style, aperture 4, pointy-top axial coords on the equirect plane):
   approximate parent containment like real H3; numpy pandas_udf.

3. **S2-style**: cube-face quadtree on the sphere, Morton-interleaved; levels 0..26;
   numpy pandas_udf.

Anchor points (BASELINE.json north_star: "every image is geotagged via its
phash-derived anchor point"), bit-exact spec from FIXTURES.md §1:
    x = phash mod 2^32          lon = x / 2^32 * 360 - 180
    y = phash div 2^32 (31-bit) lat = y / 2^31 * 180 - 90
Grid encode from phash needs **no floats at all**: ix = x div 2^(32-r),
iy = y div 2^(31-r) — identical integer arithmetic in Spark and any SQL engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GRID_MAX_RES = 28
_RES_SHIFT = 2**58
_IX_SHIFT = 2**29

# ---------------------------------------------------------------------------
# Packed feature IDs — faithful rebuild of OSMDataUtils.createID/isNode/isWay/
# isRelation (/root/reference/.../osmdata/OSMDataUtils.scala:5-21).
# ---------------------------------------------------------------------------
WAY_OFFSET = 2**61
RELATION_OFFSET = 2**62


def pack_feature_id(id_col: Column, type_col: Column) -> Column:
    """node -> id; way -> 2^61 + id; relation -> 2^62 + id; ids >= 2^61 rejected."""
    guarded = F.when(
        id_col >= F.lit(WAY_OFFSET),
        F.raise_error(F.lit("id out of range for packed feature id (>= 2^61)")),
    ).otherwise(id_col)
    return (
        F.when(type_col == "node", guarded)
        .when(type_col == "way", guarded + F.lit(WAY_OFFSET))
        .when(type_col == "relation", guarded + F.lit(RELATION_OFFSET))
        .otherwise(F.raise_error(F.concat(F.lit("unknown feature type: "), type_col)))
    )


def is_node(packed: Column) -> Column:
    return packed < F.lit(WAY_OFFSET)


def is_way(packed: Column) -> Column:
    return (packed >= F.lit(WAY_OFFSET)) & (packed < F.lit(RELATION_OFFSET))


def is_relation(packed: Column) -> Column:
    return packed >= F.lit(RELATION_OFFSET)


def unpack_raw_id(packed: Column) -> Column:
    return packed % F.lit(WAY_OFFSET)


# ---------------------------------------------------------------------------
# phash-derived anchor points (FIXTURES.md §1 bit-exact spec)
# ---------------------------------------------------------------------------
def phash_x(phash: Column) -> Column:
    """Low 32 bits of phash (phash is non-negative by construction)."""
    return phash % F.lit(2**32)


def phash_y(phash: Column) -> Column:
    """Bits 32..62 of phash (31-bit). Pure integer math: the double-division
    form ((phash / 2^32).cast(long)) rounds at ~512-ulp for 63-bit inputs and
    can flip the floor when phash % 2^32 lands within ~256 of a multiple of
    2^32 — shiftrightunsigned matches the oracle's `// 4294967296` exactly."""
    return F.shiftrightunsigned(phash, 32) % F.lit(2**31)


def anchor_lon(phash: Column) -> Column:
    return phash_x(phash).cast("double") / F.lit(float(2**32)) * 360.0 - 180.0


def anchor_lat(phash: Column) -> Column:
    return phash_y(phash).cast("double") / F.lit(float(2**31)) * 180.0 - 90.0


def synth_phash(key: Column) -> Column:
    """Deterministic 63-bit pseudo-phash from an integer key (two LCGs; overflow-free
    in int64 for keys < ~8e9, so the identical expression runs in ANSI SQL).

        x = (key * 1103515245 + 12345) mod 2^32
        y = (key * 134775813  +     1) mod 2^31
        phash = y * 2^32 + x
    """
    x = (key * F.lit(1103515245) + F.lit(12345)) % F.lit(2**32)
    y = (key * F.lit(134775813) + F.lit(1)) % F.lit(2**31)
    return y * F.lit(2**32) + x


def synth_phash_sql(key_expr: str) -> str:
    """The ANSI-SQL twin of synth_phash, for DuckDB oracles."""
    k = f"CAST({key_expr} AS BIGINT)"
    return (
        f"(({k} * 134775813 + 1) % 2147483648) * 4294967296"
        f" + (({k} * 1103515245 + 12345) % 4294967296)"
    )


# ---------------------------------------------------------------------------
# Grid cells — Column-only integer math
# ---------------------------------------------------------------------------
def _check_res(res: int) -> None:
    if not (0 <= res <= GRID_MAX_RES):
        raise ValueError(f"grid res must be in [0, {GRID_MAX_RES}], got {res}")


def grid_pack(res: int, ix: Column, iy: Column) -> Column:
    _check_res(res)
    return F.lit(res * _RES_SHIFT) + ix * F.lit(_IX_SHIFT) + iy


def grid_encode_phash(phash: Column, res: int) -> Column:
    """Grid cell of the phash anchor point — pure integer arithmetic (no floats).

    ix = x div 2^(32-res), iy = y div 2^(31-res); exact because anchor lon/lat are
    affine in x/y.
    """
    _check_res(res)
    ix = (phash_x(phash) / F.lit(2 ** (32 - res))).cast("long")
    iy = (phash_y(phash) / F.lit(2 ** (31 - res))).cast("long")
    return grid_pack(res, ix, iy)


def grid_encode_phash_sql(phash_expr: str, res: int) -> str:
    """ANSI-SQL twin of grid_encode_phash (DuckDB oracle)."""
    _check_res(res)
    x = f"(({phash_expr}) % 4294967296)"
    y = f"((({phash_expr}) // 4294967296) % 2147483648)"
    ix = f"({x} // {2 ** (32 - res)})"
    iy = f"({y} // {2 ** (31 - res)})"
    return f"({res} * {_RES_SHIFT} + {ix} * {_IX_SHIFT} + {iy})"


def grid_encode_lonlat(lon: Column, lat: Column, res: int) -> Column:
    """Grid cell from float lon/lat (clamped to the valid range)."""
    _check_res(res)
    n = 2**res
    ix = F.least(
        F.lit(n - 1),
        F.greatest(F.lit(0), F.floor((lon + 180.0) / 360.0 * n)),
    ).cast("long")
    iy = F.least(
        F.lit(n - 1),
        F.greatest(F.lit(0), F.floor((lat + 90.0) / 180.0 * n)),
    ).cast("long")
    return grid_pack(res, ix, iy)


def grid_res(cell: Column) -> Column:
    return (cell / F.lit(_RES_SHIFT)).cast("long")


def grid_ix(cell: Column) -> Column:
    return ((cell % F.lit(_RES_SHIFT)) / F.lit(_IX_SHIFT)).cast("long")


def grid_iy(cell: Column) -> Column:
    return cell % F.lit(_IX_SHIFT)


def grid_parent(cell: Column, steps: int = 1) -> Column:
    """Ancestor `steps` levels up — exact containment (aperture 4).

    Graft analog of the reference's change-propagation parent hop
    (/root/reference/.../SparkJobs.scala:48-70).
    """
    if steps < 0:
        raise ValueError("steps must be >= 0")
    if steps == 0:
        return cell
    d = 2**steps
    return (
        (grid_res(cell) - F.lit(steps)) * F.lit(_RES_SHIFT)
        + (grid_ix(cell) / F.lit(d)).cast("long") * F.lit(_IX_SHIFT)
        + (grid_iy(cell) / F.lit(d)).cast("long")
    )


def grid_ancestor(cell: Column, to_res: Column) -> Column:
    """Ancestor of `cell` at a per-row resolution `to_res` <= grid_res(cell).

    Variable-steps twin of grid_parent for mixed-resolution frames (e.g.
    normalizing a multi-res polygon cover to one blocking resolution). The
    shift runs through double pow/division, which is exact here: both are
    powers of two and ix/iy < 2^29 << 2^53.
    """
    d = F.pow(F.lit(2.0), (grid_res(cell) - to_res).cast("double"))
    return (
        to_res.cast("long") * F.lit(_RES_SHIFT)
        + F.floor(grid_ix(cell) / d).cast("long") * F.lit(_IX_SHIFT)
        + F.floor(grid_iy(cell) / d).cast("long")
    )


def grid_parent_sql(cell_expr: str, steps: int = 1) -> str:
    """ANSI-SQL twin of grid_parent."""
    d = 2**steps
    res = f"(({cell_expr}) // {_RES_SHIFT})"
    ix = f"((({cell_expr}) % {_RES_SHIFT}) // {_IX_SHIFT})"
    iy = f"(({cell_expr}) % {_IX_SHIFT})"
    return f"(({res} - {steps}) * {_RES_SHIFT} + ({ix} // {d}) * {_IX_SHIFT} + ({iy} // {d}))"


def grid_children(cell: Column) -> Column:
    """Array of the 4 child cells one level down."""
    res = grid_res(cell) + F.lit(1)
    ix2 = grid_ix(cell) * F.lit(2)
    iy2 = grid_iy(cell) * F.lit(2)
    base = res * F.lit(_RES_SHIFT)
    return F.array(
        *[
            base + (ix2 + F.lit(dx)) * F.lit(_IX_SHIFT) + iy2 + F.lit(dy)
            for dx in (0, 1)
            for dy in (0, 1)
        ]
    )


def compact_cells(
    df: DataFrame, cell_col: str = "cell", min_res: int = 0
) -> DataFrame:
    """Minimal equivalent cell set: every complete group of 4 siblings is
    replaced by its parent, repeatedly, down to min_res (the H3 `compact` /
    S2 normalize operation on this grid's aperture-4 hierarchy). Input may
    mix resolutions; duplicates are removed. Returns a single `cell` column
    whose union of leaf descendants equals the input's, with no cell an
    ancestor of another.

    Distributed shape: one bounded pass per resolution level from the finest
    present down to min_res+1 — each pass is a groupBy on the parent key
    (count==4 -> promote) plus an anti-join for the survivors; promoted
    parents feed the next-coarser pass. Per-pass state is the current level
    only, lineage is truncated per pass (localCheckpoint), and the number of
    passes is bounded by the res span (<= 28), so the plan cannot grow with
    data size. Rollup covers / cover stores shrink up to 4x per level where
    density saturates — this is the storage normalizer for cell covers.
    """
    if not (0 <= min_res <= GRID_MAX_RES):
        raise ValueError(f"min_res must be in [0, {GRID_MAX_RES}]")
    cur = df.select(F.col(cell_col).alias("cell")).distinct()
    max_row = cur.agg(F.max(grid_res(F.col("cell"))).alias("m")).collect()[0]
    if max_row["m"] is None:
        return cur
    max_res = int(max_row["m"])
    finals = []
    for r in range(max_res, min_res, -1):
        level = cur.filter(grid_res(F.col("cell")) == r)
        rest = cur.filter(grid_res(F.col("cell")) != r)
        promoted = (
            level.groupBy(grid_parent(F.col("cell")).alias("cell"))
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") == 4)
            .drop("_n")
        )
        kept = level.join(
            promoted.select(F.col("cell").alias("_p")),
            grid_parent(level["cell"]) == F.col("_p"),
            "left_anti",
        )
        finals.append(kept)
        cur = rest.unionByName(promoted).localCheckpoint(eager=False)
    out = cur
    for k in finals:
        out = out.unionByName(k)
    return out


def uncompact_cells(
    df: DataFrame, to_res: int, cell_col: str = "cell"
) -> DataFrame:
    """Inverse of compact_cells: explode every cell to all its descendants at
    `to_res` (cells already at to_res pass through; cells finer than to_res
    are rejected). Column-only: two sequence-explodes over the per-row child
    index ranges — 4^(to_res - res) rows per input cell, so the caller owns
    the blowup budget (compact res spans are small by construction)."""
    _check_res(to_res)
    res = grid_res(F.col(cell_col))
    d = F.when(
        res > F.lit(to_res),
        F.raise_error(F.lit("uncompact_cells: cell finer than to_res")),
    ).otherwise(F.pow(F.lit(2.0), (F.lit(to_res) - res).cast("double")).cast("long"))
    base_ix = grid_ix(F.col(cell_col)) * d
    base_iy = grid_iy(F.col(cell_col)) * d
    out = (
        df.withColumn("_dx", F.explode(F.sequence(F.lit(0), d - 1)))
        .withColumn("_dy", F.explode(F.sequence(F.lit(0), d - 1)))
        .withColumn(
            cell_col,
            F.lit(to_res * _RES_SHIFT)
            + (base_ix + F.col("_dx")) * F.lit(_IX_SHIFT)
            + base_iy
            + F.col("_dy"),
        )
        .drop("_dx", "_dy")
    )
    return out


def compact_unroll_sql(cells_cte: str, from_res: int, to_res: int) -> str:
    """DuckDB twin of compact_cells for a fixed res span: unrolled one CTE
    pair per level. `cells_cte` must select a single BIGINT column `cell` of
    distinct cells, all at from_res. Returns a full query selecting the
    compacted `cell` set."""
    parts = [f"lvl{from_res} AS ({cells_cte})"]
    kept_selects = []
    for r in range(from_res, to_res, -1):
        parent = grid_parent_sql("cell", 1)
        parts.append(
            f"prom{r - 1} AS (SELECT {parent} AS cell FROM lvl{r} "
            f"GROUP BY 1 HAVING COUNT(*) = 4)"
        )
        parts.append(
            f"kept{r} AS (SELECT cell FROM lvl{r} "
            f"WHERE {parent} NOT IN (SELECT cell FROM prom{r - 1}))"
        )
        parts.append(f"lvl{r - 1} AS (SELECT cell FROM prom{r - 1})")
        kept_selects.append(f"SELECT cell FROM kept{r}")
    kept_selects.append(f"SELECT cell FROM lvl{to_res}")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(kept_selects)


def grid_disk(cell: Column, k: int, res: int) -> Column:
    """Array of all cells within Chebyshev distance k (the (2k+1)^2 block).

    Longitude wraps mod 2^res; latitude out-of-range neighbors are dropped.
    Used by kNN ring expansion (SURVEY.md §2.4 additions).
    """
    _check_res(res)
    if k < 0:
        raise ValueError("k must be >= 0")
    n = 2**res
    ix, iy = grid_ix(cell), grid_iy(cell)
    span = F.sequence(F.lit(-k), F.lit(k))
    cells = F.flatten(
        F.transform(
            span,
            lambda dx: F.transform(
                span,
                lambda dy: F.when(
                    ((iy + dy) >= 0) & ((iy + dy) < n),
                    F.lit(res * _RES_SHIFT)
                    + ((ix + dx + n) % F.lit(n)) * F.lit(_IX_SHIFT)
                    + (iy + dy),
                ),
            ),
        )
    )
    return F.array_distinct(F.filter(cells, lambda c: c.isNotNull()))


def grid_ring(cell: Column, k: int, res: int) -> Column:
    """Array of cells at Chebyshev distance exactly k (hollow ring)."""
    if k == 0:
        return F.array(cell)
    return F.array_except(grid_disk(cell, k, res), grid_disk(cell, k - 1, res))


def grid_disk_var(cell: Column, kx: Column, ky: Column, res: int) -> Column:
    """grid_disk with per-ROW rectangular radii (Column-valued): all cells with
    |dx| <= kx (lon, wraps mod 2^res) and |dy| <= ky (lat, out-of-range
    dropped). kx is clamped to the half-grid so a full wrap enumerates each
    lon column exactly once (array_distinct dedups the seam). Used by
    radius-bounded geo operators (engine.geoann) where the lon extent of the
    covered rect depends on each query's latitude."""
    _check_res(res)
    n = 2**res
    ix, iy = grid_ix(cell), grid_iy(cell)
    kx_c = F.least(F.greatest(kx.cast("int"), F.lit(0)), F.lit(n // 2))
    ky_c = F.greatest(ky.cast("int"), F.lit(0))
    cells = F.flatten(
        F.transform(
            F.sequence(-kx_c, kx_c),
            lambda dx: F.transform(
                F.sequence(-ky_c, ky_c),
                lambda dy: F.when(
                    ((iy + dy) >= 0) & ((iy + dy) < n),
                    F.lit(res * _RES_SHIFT)
                    + ((ix + dx + n) % F.lit(n)) * F.lit(_IX_SHIFT)
                    + (iy + dy),
                ),
            ),
        )
    )
    return F.array_distinct(F.filter(cells, lambda c: c.isNotNull()))


# ---------------------------------------------------------------------------
# numpy mirrors (oracles for tests + inputs for vectorized kernels)
# ---------------------------------------------------------------------------
def np_anchor(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ph = phash.astype(np.uint64)
    x = (ph & np.uint64(0xFFFFFFFF)).astype(np.float64)
    y = ((ph >> np.uint64(32)) & np.uint64(0x7FFFFFFF)).astype(np.float64)
    return x / 2**32 * 360.0 - 180.0, y / 2**31 * 180.0 - 90.0


def np_grid_encode_phash(phash: np.ndarray, res: int) -> np.ndarray:
    ph = phash.astype(np.uint64)
    x = ph & np.uint64(0xFFFFFFFF)
    y = (ph >> np.uint64(32)) & np.uint64(0x7FFFFFFF)
    ix = (x >> np.uint64(32 - res)).astype(np.int64)
    iy = (y >> np.uint64(31 - res)).astype(np.int64)
    return res * _RES_SHIFT + ix * _IX_SHIFT + iy


def np_grid_encode_lonlat(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    n = 2**res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return res * _RES_SHIFT + ix * _IX_SHIFT + iy


# ---------------------------------------------------------------------------
# Hex cells (H3-style, aperture 4, pointy-top axial on the equirect plane)
# ---------------------------------------------------------------------------
HEX_MAX_RES = 15
_HEX_RES_SHIFT = 2**57
_HEX_Q_SHIFT = 2**28
_HEX_OFF = 2**27
_HEX_BASE_R = 45.0  # circumradius (degrees) at res 0
_SQRT3 = np.sqrt(3.0)


def hex_size(res: int) -> float:
    if not (0 <= res <= HEX_MAX_RES):
        raise ValueError(f"hex res must be in [0, {HEX_MAX_RES}], got {res}")
    return _HEX_BASE_R / (2.0**res)


def np_hex_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized lon/lat -> packed hex cell id (axial q,r with cube rounding)."""
    size = hex_size(res)
    q = (_SQRT3 / 3.0 * lon - 1.0 / 3.0 * lat) / size
    r = (2.0 / 3.0 * lat) / size
    # cube rounding
    x, z = q, r
    y = -x - z
    rx, ry, rz = np.round(x), np.round(y), np.round(z)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    qi = rx.astype(np.int64) + _HEX_OFF
    ri = rz.astype(np.int64) + _HEX_OFF
    return res * _HEX_RES_SHIFT + qi * _HEX_Q_SHIFT + ri


def np_hex_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (res, q, r) axial coords (offsets removed)."""
    res = cell // _HEX_RES_SHIFT
    q = (cell % _HEX_RES_SHIFT) // _HEX_Q_SHIFT - _HEX_OFF
    r = cell % _HEX_Q_SHIFT - _HEX_OFF
    return res, q, r


def np_hex_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    res, q, r = np_hex_decode(cell)
    size = _HEX_BASE_R / (2.0 ** res.astype(np.float64))
    lon = size * _SQRT3 * (q + r / 2.0)
    lat = size * 1.5 * r
    return lon, lat


def np_hex_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Approximate-containment parent (like H3): re-encode the center at res-steps."""
    res, _, _ = np_hex_decode(cell)
    lon, lat = np_hex_center(cell)
    out = np.empty_like(cell)
    for rr in np.unique(res):
        m = res == rr
        out[m] = np_hex_encode(lon[m], lat[m], int(rr) - steps)
    return out


_HEX_DIRS = np.array([(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)], dtype=np.int64)


def np_hex_ring(cell: int, k: int) -> np.ndarray:
    """All hex cells at hex-distance exactly k from `cell` (6k cells; k=0 -> itself)."""
    res, q, r = np_hex_decode(np.array([cell], dtype=np.int64))
    res, q, r = int(res[0]), int(q[0]), int(r[0])
    if k == 0:
        return np.array([cell], dtype=np.int64)
    out = []
    cq, cr = q + int(_HEX_DIRS[4][0]) * k, r + int(_HEX_DIRS[4][1]) * k
    for d in range(6):
        for _ in range(k):
            out.append(res * _HEX_RES_SHIFT + (cq + _HEX_OFF) * _HEX_Q_SHIFT + (cr + _HEX_OFF))
            cq += int(_HEX_DIRS[d][0])
            cr += int(_HEX_DIRS[d][1])
    return np.array(out, dtype=np.int64)


def hex_encode_udf(res: int):
    """pandas_udf: (lon, lat) -> hex cell id at `res` (Arrow-batched numpy)."""

    @F.pandas_udf(T.LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(np_hex_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res))

    return _enc


# ---------------------------------------------------------------------------
# S2-style cells: cube-face quadtree, Morton-interleaved (levels 0..26)
# ---------------------------------------------------------------------------
S2_MAX_LEVEL = 26
_S2_FACE_SHIFT = 2**58
_S2_LEVEL_SHIFT = 2**52


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 26 bits of v (uint64)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unspread_bits(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def np_s2_encode(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """Vectorized lon/lat -> S2-style cell id (engine-defined, not Google-S2 bit-exact)."""
    if not (0 <= level <= S2_MAX_LEVEL):
        raise ValueError(f"s2 level must be in [0, {S2_MAX_LEVEL}], got {level}")
    lam, phi = np.radians(lon), np.radians(lat)
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # face 0:+x 1:+y 2:+z 3:-x 4:-y 5:-z
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    major = np.choose(face, [x, y, z, x, y, z])
    u = np.choose(face, [y, z, x, y, z, x]) / np.abs(major)
    v = np.choose(face, [z, x, y, z, x, y]) / np.abs(major)
    n = 1 << level
    si = np.clip(np.floor((u + 1.0) / 2.0 * n), 0, n - 1).astype(np.uint64)
    ti = np.clip(np.floor((v + 1.0) / 2.0 * n), 0, n - 1).astype(np.uint64)
    morton = (_spread_bits(si) | (_spread_bits(ti) << np.uint64(1))).astype(np.int64)
    return face * _S2_FACE_SHIFT + level * _S2_LEVEL_SHIFT + morton


def np_s2_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (face, level, si, ti)."""
    face = cell // _S2_FACE_SHIFT
    level = (cell % _S2_FACE_SHIFT) // _S2_LEVEL_SHIFT
    morton = (cell % _S2_LEVEL_SHIFT).astype(np.uint64)
    si = _unspread_bits(morton).astype(np.int64)
    ti = _unspread_bits(morton >> np.uint64(1)).astype(np.int64)
    return face, level, si, ti


def np_s2_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Exact-containment parent: drop 2*steps Morton bits."""
    face = cell // _S2_FACE_SHIFT
    level = (cell % _S2_FACE_SHIFT) // _S2_LEVEL_SHIFT
    morton = (cell % _S2_LEVEL_SHIFT).astype(np.uint64) >> np.uint64(2 * steps)
    return face * _S2_FACE_SHIFT + (level - steps) * _S2_LEVEL_SHIFT + morton.astype(np.int64)


def s2_encode_udf(level: int):
    """pandas_udf: (lon, lat) -> S2-style cell id at `level`."""

    @F.pandas_udf(T.LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(np_s2_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64), level))

    return _enc


# ---------------------------------------------------------------------------
# Geohash (standard base32) — fourth index family, Column-only from phash
# ---------------------------------------------------------------------------
_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def np_geohash(lon: np.ndarray, lat: np.ndarray, precision: int = 8) -> np.ndarray:
    """Standard geohash strings (successive-halving == bit extraction of the
    floor-quantized fraction; numpy oracle for tests/known vectors)."""
    nbits = 5 * precision
    n_lon = (nbits + 1) // 2
    n_lat = nbits // 2
    fx = np.clip(np.floor((lon + 180.0) / 360.0 * (1 << n_lon)), 0, (1 << n_lon) - 1)
    fy = np.clip(np.floor((lat + 90.0) / 180.0 * (1 << n_lat)), 0, (1 << n_lat) - 1)
    fx = fx.astype(np.uint64)
    fy = fy.astype(np.uint64)
    # even total bits: LSB is a lat bit (lat at 2j, lon at 2j+1); odd total
    # (odd precision): lon has one extra bit and the LSB is lon's
    if nbits % 2 == 0:
        g = _spread_bits(fy) | (_spread_bits(fx) << np.uint64(1))
    else:
        g = _spread_bits(fx) | (_spread_bits(fy) << np.uint64(1))
    out = []
    for v in g.tolist():
        s = "".join(
            _GEOHASH32[(v >> (nbits - 5 * (k + 1))) & 31] for k in range(precision)
        )
        out.append(s)
    return np.array(out)


def geohash_phash(phash: Column, precision: int = 8) -> Column:
    """Geohash of the phash anchor point as a pure Column expression: the
    anchor's lon/lat fractions ARE x/2^32 and y/2^31, so the geohash bit
    planes are plain right-shifts of x and y — no floats, no UDF; the base32
    chars come from element_at over a literal array. precision <= 11
    (n_lon <= 28 fits the _spread_bits_col mask)."""
    if not (1 <= precision <= 11):
        raise ValueError("precision must be in [1, 11]")
    nbits = 5 * precision
    n_lon = (nbits + 1) // 2
    n_lat = nbits // 2
    fx = (phash_x(phash) / F.lit(2 ** (32 - n_lon))).cast("long")
    fy = (phash_y(phash) / F.lit(2 ** (31 - n_lat))).cast("long")
    if nbits % 2 == 0:
        g = _spread_bits_col(fy).bitwiseOR(F.shiftleft(_spread_bits_col(fx), 1))
    else:
        g = _spread_bits_col(fx).bitwiseOR(F.shiftleft(_spread_bits_col(fy), 1))
    alpha = F.array(*[F.lit(c) for c in _GEOHASH32])
    chars = [
        F.element_at(
            alpha,
            (F.shiftrightunsigned(g, nbits - 5 * (k + 1)).bitwiseAND(F.lit(31)) + 1)
            .cast("int"),
        )
        for k in range(precision)
    ]
    return F.concat(*chars)


def geohash_phash_sql(phash_expr: str, precision: int = 8) -> str:
    """DuckDB twin of geohash_phash (same shifts, same alphabet)."""
    nbits = 5 * precision
    n_lon = (nbits + 1) // 2
    n_lat = nbits // 2
    x = f"((({phash_expr}) % 4294967296) // {2 ** (32 - n_lon)})"
    y = f"(((({phash_expr}) // 4294967296) % 2147483648) // {2 ** (31 - n_lat)})"

    def spread(v: str, nb: int) -> str:
        return "(" + " + ".join(f"((({v} >> {j}) & 1) << {2 * j})" for j in range(nb)) + ")"

    if nbits % 2 == 0:
        g = f"({spread(y, n_lat)} + ({spread(x, n_lon)} << 1))"
    else:
        g = f"({spread(x, n_lon)} + ({spread(y, n_lat)} << 1))"
    chars = " || ".join(
        f"substr('{_GEOHASH32}', CAST((({g} >> {nbits - 5 * (k + 1)}) & 31) AS INT) + 1, 1)"
        for k in range(precision)
    )
    return f"({chars})"


# ---------------------------------------------------------------------------
# DuckDB oracle twins of the numpy encoders
# ---------------------------------------------------------------------------
# Both encoders are elementary double arithmetic + libm trig; numpy's float64
# ufuncs and DuckDB's scalar functions resolve to the same libm on this
# platform, and every expression below replicates the numpy op ORDER exactly,
# so the encodes are bit-identical (validated by the oracle hash gate).
_DEG2RAD = repr(np.pi / 180.0)  # numpy deg2rad multiplies by this constant


def _round_half_even_sql(v: str) -> str:
    """DuckDB twin of np.round (rint, half-to-even) — DuckDB's ROUND is
    half-away-from-zero, so spell out the tie rule. v - FLOOR(v) is exact for
    doubles (Sterbenz), so the 0.5 comparisons are exact."""
    return (
        f"(CASE WHEN ({v}) - FLOOR({v}) > 0.5 THEN FLOOR({v}) + 1 "
        f"WHEN ({v}) - FLOOR({v}) < 0.5 THEN FLOOR({v}) "
        f"WHEN CAST(FLOOR({v}) AS BIGINT) % 2 = 0 THEN FLOOR({v}) "
        f"ELSE FLOOR({v}) + 1 END)"
    )


def hex_encode_sql(lon_expr: str, lat_expr: str, res: int, from_clause: str) -> str:
    """SELECT fragment producing column `hex_cell` — the DuckDB twin of
    np_hex_encode over rows of `from_clause` exposing lon/lat expressions."""
    size = hex_size(res)
    c_q = repr(_SQRT3 / 3.0)
    c_l = repr(1.0 / 3.0)
    c_r = repr(2.0 / 3.0)
    return f"""
        WITH _pt AS (SELECT {lon_expr} AS lon, {lat_expr} AS lat {from_clause}),
        _ax AS (
          SELECT ({c_q} * lon - {c_l} * lat) / {size!r} AS xq,
                 ({c_r} * lat) / {size!r} AS zr
          FROM _pt
        ),
        _cube AS (SELECT xq, zr, -xq - zr AS yy FROM _ax),
        _rnd AS (
          SELECT xq, zr, yy,
                 {_round_half_even_sql('xq')} AS rx,
                 {_round_half_even_sql('yy')} AS ry,
                 {_round_half_even_sql('zr')} AS rz
          FROM _cube
        ),
        _dif AS (
          SELECT rx, ry, rz,
                 abs(rx - xq) AS dx, abs(ry - yy) AS dy, abs(rz - zr) AS dz
          FROM _rnd
        ),
        _fix AS (
          SELECT CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS rx2,
                 CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy
                      THEN -rx - ry ELSE rz END AS rz2
          FROM _dif
        )
        SELECT {res} * {_HEX_RES_SHIFT}
               + (CAST(rx2 AS BIGINT) + {_HEX_OFF}) * {_HEX_Q_SHIFT}
               + (CAST(rz2 AS BIGINT) + {_HEX_OFF}) AS hex_cell
        FROM _fix
    """


def s2_encode_sql(lon_expr: str, lat_expr: str, level: int, from_clause: str) -> str:
    """SELECT fragment producing column `s2_cell` — the DuckDB twin of
    np_s2_encode (cube-face selection + gnomonic-ish u/v + Morton interleave)."""
    n = 1 << level
    si_bits = " + ".join(
        f"(((si >> {j}) & 1) << {2 * j})" for j in range(level)
    ) or "0"
    ti_bits = " + ".join(
        f"(((ti >> {j}) & 1) << {2 * j + 1})" for j in range(level)
    ) or "0"
    return f"""
        WITH _pt AS (SELECT {lon_expr} AS lon, {lat_expr} AS lat {from_clause}),
        _xyz AS (
          SELECT cos(lat * {_DEG2RAD}) * cos(lon * {_DEG2RAD}) AS x,
                 cos(lat * {_DEG2RAD}) * sin(lon * {_DEG2RAD}) AS y,
                 sin(lat * {_DEG2RAD}) AS z
          FROM _pt
        ),
        _face AS (
          SELECT x, y, z,
                 CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                        THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
                      WHEN abs(y) >= abs(z)
                        THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
                      ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END
                 END AS face
          FROM _xyz
        ),
        _uv AS (
          SELECT face,
                 CASE face % 3 WHEN 0 THEN y / abs(x)
                               WHEN 1 THEN z / abs(y)
                               ELSE x / abs(z) END AS u,
                 CASE face % 3 WHEN 0 THEN z / abs(x)
                               WHEN 1 THEN x / abs(y)
                               ELSE y / abs(z) END AS v
          FROM _face
        ),
        _st AS (
          SELECT face,
                 CAST(GREATEST(0.0, LEAST({n - 1}.0, FLOOR((u + 1.0) / 2.0 * {n})))
                      AS BIGINT) AS si,
                 CAST(GREATEST(0.0, LEAST({n - 1}.0, FLOOR((v + 1.0) / 2.0 * {n})))
                      AS BIGINT) AS ti
          FROM _uv
        )
        SELECT face * {_S2_FACE_SHIFT} + {level} * {_S2_LEVEL_SHIFT}
               + ({si_bits}) + ({ti_bits}) AS s2_cell
        FROM _st
    """


# ---------------------------------------------------------------------------
# Morton (Z-order) keys — storage clustering for the tiling engine
# ---------------------------------------------------------------------------
_SPREAD_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread_bits_col(v: Column) -> Column:
    """Column twin of _spread_bits: interleave zeros between the low 28 bits."""
    for shift, mask in _SPREAD_MASKS:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def grid_morton(cell: Column) -> Column:
    """Z-order key of a grid cell: res in the high bits (so mixed-resolution
    tables stay grouped by level), ix/iy bit-interleaved below. Key property:
    any quadtree-aligned block (all descendants of one coarser cell) is ONE
    CONTIGUOUS morton range — so range-partitioned files carry tight
    non-overlapping spatial extents in their manifests and bbox-ish queries
    prune files from metadata alone (iceberg_lite.Table.read(prune=...))."""
    zx = _spread_bits_col(grid_ix(cell))
    zy = _spread_bits_col(grid_iy(cell))
    return grid_res(cell) * F.lit(_RES_SHIFT) + zx.bitwiseOR(F.shiftleft(zy, 1))


def np_grid_morton(cell: np.ndarray) -> np.ndarray:
    """numpy mirror of grid_morton (test oracle)."""
    res = (cell // _RES_SHIFT).astype(np.int64)
    ix = ((cell % _RES_SHIFT) // _IX_SHIFT).astype(np.uint64)
    iy = (cell % _IX_SHIFT).astype(np.uint64)
    return (res * _RES_SHIFT + (_spread_bits(ix) | (_spread_bits(iy) << np.uint64(1))).astype(np.int64))


def morton_block_range(block_cell: int, target_res: int) -> tuple[int, int]:
    """[lo, hi] morton-key range (inclusive) of every target_res descendant of
    `block_cell` (a coarser grid cell). Because descendants of one quadtree
    block are morton-contiguous, this single range drives file pruning."""
    res = block_cell // _RES_SHIFT
    steps = target_res - res
    if steps < 0:
        raise ValueError("target_res must be >= the block cell's res")
    ix = (block_cell % _RES_SHIFT) // _IX_SHIFT
    iy = block_cell % _IX_SHIFT

    def spread(v: int) -> int:
        for shift, mask in _SPREAD_MASKS:
            v = (v | (v << shift)) & mask
        return v

    base = spread(ix << steps) | (spread(iy << steps) << 1)
    width = 1 << (2 * steps)  # 4^steps descendants, contiguous
    off = target_res * _RES_SHIFT
    return off + base, off + base + width - 1


# ---------------------------------------------------------------------------
# Hilbert-curve keys — the better-locality alternative to grid_morton for
# range-partitioned layout: every pair of consecutive keys is a spatial
# 4-neighbor (no Z-curve "seam jumps"), so range-partitioned files carry
# tighter bbox extents and bbox queries touch ~30% fewer files at
# non-power-of-4-aligned file counts (measured in
# tests/test_morton.py::test_hilbert_beats_morton_locality; at aligned
# counts both curves degenerate to exact quadtree blocks and tie).
# Same quadtree-block
# contiguity guarantee as morton (the order-n curve restricted to a level-l
# block is a rotated order-(n-l) curve, visited as one contiguous d-range),
# so hilbert_block_range drives the identical manifest pruning.
# ---------------------------------------------------------------------------


def np_hilbert_xy2d(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """Vectorized Hilbert xy -> d at `order` bits per axis (the classic
    iterative rotate-and-accumulate; d in [0, 4^order))."""
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x)
    n = 1 << order
    for i in range(order - 1, -1, -1):
        s = 1 << i
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += (s * s) * ((3 * rx) ^ ry)
        # rotate: ry==0 -> (optionally reflect) then swap x/y
        flip = (ry == 0) & (rx == 1)
        xr = np.where(flip, n - 1 - x, x)
        yr = np.where(flip, n - 1 - y, y)
        swap = ry == 0
        x, y = (
            np.where(swap, yr, xr),
            np.where(swap, xr, yr),
        )
    return d


def np_grid_hilbert(cell: np.ndarray, res: int) -> np.ndarray:
    """Hilbert key of res-`res` grid cells: res in the high bits (mixed-
    resolution tables stay grouped by level, like grid_morton), the Hilbert
    d-index below. Unlike morton, the curve order must equal the cell
    resolution (leading-zero levels are NOT no-ops in the Hilbert rotation
    state), so res is an explicit argument — callers know their res."""
    ix = ((cell % _RES_SHIFT) // _IX_SHIFT).astype(np.int64)
    iy = (cell % _IX_SHIFT).astype(np.int64)
    return res * _RES_SHIFT + np_hilbert_xy2d(ix, iy, res)


def grid_hilbert(cell: Column, res: int) -> Column:
    """Column twin of np_grid_hilbert: the xy2d loop as ONE F.aggregate HOF
    over the literal bit ladder [2^(res-1) .. 1], state = struct(x, y, d).
    Lambda variables are SHARED references, so the expression stays linear
    in res — a naively unrolled loop duplicates the x/y subtrees 4x per
    iteration (4^res nodes) and OOMs the driver on plan normalization at
    res >= ~8 (the same lesson as the viewshed strip-slice HOFs,
    BENCH/BASELINE.md). JVM-side, no UDF; usable in repartitionByRange.
    res <= 28 (grid ix/iy width)."""
    if not (1 <= res <= 28):
        raise ValueError("res must be in [1, 28]")
    n = 1 << res
    ladder = F.array(
        *[F.lit(1 << i).cast("long") for i in range(res - 1, -1, -1)]
    )
    init = F.struct(
        grid_ix(cell).alias("x"),
        grid_iy(cell).alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    def step(acc, s):
        x, y, d = acc["x"], acc["y"], acc["d"]
        rx = F.when(x.bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(y.bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0))
        d2 = d + s * s * (F.lit(3) * rx).bitwiseXOR(ry).cast("long")
        flip = (ry == 0) & (rx == 1)
        xr = F.when(flip, F.lit(n - 1) - x).otherwise(x)
        yr = F.when(flip, F.lit(n - 1) - y).otherwise(y)
        swap = ry == 0
        return F.struct(
            F.when(swap, yr).otherwise(xr).alias("x"),
            F.when(swap, xr).otherwise(yr).alias("y"),
            d2.alias("d"),
        )

    d = F.aggregate(ladder, init, step, lambda acc: acc["d"])
    return grid_res(cell) * F.lit(_RES_SHIFT) + d


def hilbert_block_range(block_cell: int, target_res: int) -> tuple[int, int]:
    """[lo, hi] hilbert-key range (inclusive) of every target_res descendant
    of `block_cell` — the pruning twin of morton_block_range: the curve
    restricted to a quadtree block is contiguous, spanning exactly
    d_block * 4^steps .. +4^steps - 1 where d_block is the block's own
    Hilbert index at ITS resolution."""
    res = block_cell // _RES_SHIFT
    steps = target_res - res
    if steps < 0:
        raise ValueError("target_res must be >= the block cell's res")
    ix = (block_cell % _RES_SHIFT) // _IX_SHIFT
    iy = block_cell % _IX_SHIFT
    d_block = int(
        np_hilbert_xy2d(
            np.array([ix], dtype=np.int64), np.array([iy], dtype=np.int64), res
        )[0]
    )
    width = 1 << (2 * steps)
    off = target_res * _RES_SHIFT
    return off + d_block * width, off + d_block * width + width - 1
