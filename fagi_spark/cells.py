"""Hierarchical lon/lat grid — the engine's H3/S2 stand-in.

The reference relies on a PostGIS GiST index + physical ``CLUSTER`` on
geometry (schema.sql:38-39, 66-67) for every spatial predicate. At
cluster scale we replace that with an explicit hierarchical grid: at
resolution ``r`` the world is a ``2^r x 2^r`` lon/lat raster; a cell id
packs ``(r, ix, iy)`` into one int64. Everything here is *pure Spark
column arithmetic* — no UDF, fully inside whole-stage codegen, and each
expression has a textually-mirrored DuckDB form for oracle checking
(`sql_*` helpers).

Cell ids are the partitioning key for:
  - the cell-partitioned equi-join (SURVEY.md §2.3 J2/J6),
  - radius/kNN candidate search via ring expansion (J4 — replaces
    ``bif:st_contains(geo, center, radius/111195)``),
  - viewport/bbox tile assignment (F4/J5),
  - Iceberg-style partition layout (partition pruning on cell prefix).

Resolution guide (cell width in degrees = 360 / 2^r):
  r=7 ~ 2.8deg   r=10 ~ 0.35deg   r=13 ~ 0.044deg   r=16 ~ 0.0055deg
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Default multi-resolution set carried on extracted entities.
RESOLUTIONS = (7, 10, 13)
MAX_RES = 28  # 2*res bits must fit under the res tag (res << 58)
_RES_SHIFT = 58

# Cell-assignment provider used when cell_col's provider arg is None:
# "grid" (the in-container default) or "h3" (import-guarded).
import os as _os  # noqa: E402

DEFAULT_PROVIDER = _os.environ.get("FAGI_CELL_PROVIDER", "grid")


_H3_API = ("latlng_to_cell", "grid_disk", "str_to_int", "int_to_str")


def _h3mod():
    """Import-guarded h3 handle (SURVEY §7.4 sanctions the grid
    stand-in; a container that ships ``h3`` gets true hexagons with
    zero call-site changes). Checked driver-side at column build so a
    missing package or a pre-4 h3 (whose names differ) fails fast, not
    inside a Spark task."""
    try:
        import h3
    except ImportError as e:  # pragma: no cover - h3 absent in CI
        raise ImportError(
            "cell provider 'h3' needs the optional h3 package "
            "(pip install h3); the bit-interleave grid provider is "
            "the built-in default") from e
    missing = [n for n in _H3_API if not hasattr(h3, n)]
    if missing:
        raise ImportError(
            f"cell provider 'h3' needs the h3 >= 4 API; the installed h3 "
            f"{getattr(h3, '__version__', '(unknown version)')} lacks "
            f"{', '.join(missing)}")
    return h3


def h3_cell_col(lon: Column, lat: Column, res: int) -> Column:
    """True-H3 cell assignment as an Arrow pandas UDF -> int64 H3
    index. The slow path by design (per-row C calls through the h3
    python binding vs pure JVM codegen for the grid) — use it when
    hexagonal adjacency semantics matter more than raw assignment
    throughput."""
    import pandas as _pd
    from pyspark.sql.functions import pandas_udf

    _h3mod()  # fail fast on the driver

    @pandas_udf("long")
    def _k(lo: "_pd.Series", la: "_pd.Series") -> "_pd.Series":
        h3 = _h3mod()
        out = [None if o is None or a is None
               else h3.str_to_int(h3.latlng_to_cell(float(a), float(o), res))
               for o, a in zip(lo, la)]
        return _pd.Series(out, dtype="object")

    return _k(lon, lat)


def explode_disk_h3(df: DataFrame, k: int, cell: str = "cell",
                    out: str = "probe_cell") -> DataFrame:
    """``explode_ring`` twin for h3-provider cells: one row per cell
    of ``h3.grid_disk(cell, k)`` — the hexagonal candidate-probe
    expansion for radius/kNN joins over opaque H3 ids."""
    import pandas as _pd
    from pyspark.sql.functions import pandas_udf

    _h3mod()

    @pandas_udf("array<long>")
    def _disk(c: "_pd.Series") -> "_pd.Series":
        h3 = _h3mod()
        out_ = [None if v is None
                else [h3.str_to_int(x)
                      for x in h3.grid_disk(h3.int_to_str(int(v)), k)]
                for v in c]
        return _pd.Series(out_, dtype="object")

    return df.withColumn(out, F.explode(_disk(F.col(cell))))


def cell_width_deg(res: int) -> float:
    """Cell width in lon degrees (cells are 2:1 rectangles: 360 x 180
    world over a 2^r x 2^r grid)."""
    return 360.0 / (1 << res)


def cell_height_deg(res: int) -> float:
    return 180.0 / (1 << res)


def res_for_radius_deg(radius_deg: float, max_res: int = 16) -> int:
    """Finest resolution whose cell *height* (the smaller cell axis) is
    >= the search radius, so a 1-ring disk covers the radius in y and a
    (1,1)-ring covers it in x too. Mirrors choosing an H3 res +
    grid_disk(k)."""
    for r in range(max_res, -1, -1):
        if cell_height_deg(r) >= radius_deg:
            return r
    return 0


def ring_k_for_radius(radius_deg: float, res: int) -> tuple[int, int]:
    """(kx, ky) Chebyshev ring counts needed at a fixed resolution —
    per-axis because cells are rectangular."""
    kx = max(1, int(math.ceil(radius_deg / cell_width_deg(res))))
    ky = max(1, int(math.ceil(radius_deg / cell_height_deg(res))))
    return kx, ky


def ix_col(lon: Column, res: int) -> Column:
    n = 1 << res
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def iy_col(lat: Column, res: int) -> Column:
    n = 1 << res
    raw = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def pack_cell(ix: Column, iy: Column, res: int) -> Column:
    """cell_id = (res << 58) | (ix << res) | iy — res <= 28."""
    return (F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT)
            + ix * F.lit(1 << res) + iy)


def pack_cell_value(ix: int, iy: int, res: int) -> int:
    """Python-side twin of ``pack_cell`` for driver-side literals
    (partition IN-lists, test fixtures) — ONE place owns the layout."""
    return (res << _RES_SHIFT) | (ix << res) | iy


def cell_col(lon: Column, lat: Column, res: int,
             provider: str | None = None) -> Column:
    """Cell id at ``res``. ``provider`` (default: module-level
    ``DEFAULT_PROVIDER``, normally "grid"):

    - ``"grid"`` — the bit-interleave lon/lat raster above: pure JVM
      column arithmetic, oracle-mirrored, and the id the ring-join /
      bounds / pyramid machinery understands.
    - ``"h3"`` — true hexagonal H3 cells via the import-guarded
      ``h3`` package (the wordnet_sem pattern: same API, optional
      dependency). Ids are opaque int64 H3 indexes — valid wherever
      the cell is a BUCKET (equality joins, tile rollups, counts,
      ``explode_disk_h3`` ring probes), NOT for the grid-geometry
      helpers (unpack_ix/with_cell_bounds/ring_k_for_radius, which
      own the rectangular layout). Set env ``FAGI_CELL_PROVIDER=h3``
      or ``DEFAULT_PROVIDER`` to flip every default call site at
      once."""
    p = provider or DEFAULT_PROVIDER
    if p == "grid":
        return pack_cell(ix_col(lon, res), iy_col(lat, res), res)
    if p == "h3":
        return h3_cell_col(lon, lat, res)
    raise ValueError(f"unknown cell provider {p!r} (use 'grid' or 'h3')")


def with_cell(df: DataFrame, res: int, lon: str = "lon", lat: str = "lat",
              prefix: str = "") -> DataFrame:
    """Adds `{prefix}ix, {prefix}iy, {prefix}cell` columns at ``res``."""
    ix = ix_col(F.col(lon), res)
    iy = iy_col(F.col(lat), res)
    return (df.withColumn(f"{prefix}ix", ix)
              .withColumn(f"{prefix}iy", iy)
              .withColumn(f"{prefix}cell", pack_cell(F.col(f"{prefix}ix"), F.col(f"{prefix}iy"), res)))


def explode_ring(df: DataFrame, res: int, k: int | tuple[int, int],
                 ix: str = "ix", iy: str = "iy", out: str = "probe_cell") -> DataFrame:
    """grid_disk analog: one row per cell within per-axis Chebyshev
    distance (kx, ky) of (ix, iy). (2kx+1)(2ky+1) rows per input row —
    keep k small by picking res with ``res_for_radius_deg``. Pure
    explode of a literal sequence; no Python."""
    kx, ky = (k, k) if isinstance(k, int) else k
    n = 1 << res
    df = (df.withColumn("_dx", F.explode(F.sequence(F.lit(-kx), F.lit(kx))))
            .withColumn("_dy", F.explode(F.sequence(F.lit(-ky), F.lit(ky)))))
    nix = F.col(ix) + F.col("_dx")
    niy = F.col(iy) + F.col("_dy")
    df = df.filter((nix >= 0) & (nix < n) & (niy >= 0) & (niy < n))
    return (df.withColumn(out, pack_cell(nix, niy, res))
              .drop("_dx", "_dy"))


def unpack_ix(cell: Column, res: int) -> Column:
    """ix back out of a packed cell id (inverse of pack_cell). Integer
    shift, not float division: (cell - base) = ix*2^res + iy is
    non-negative, so a right shift by ``res`` is exact for ALL res in
    pack_cell's domain (float division loses bits past 2^53, a silent
    trap above res 26)."""
    return F.shiftright(
        (cell - F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT)).cast("long"),
        res)


def unpack_iy(cell: Column, res: int) -> Column:
    return F.pmod(cell - F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT),
                  F.lit(1 << res)).cast("long")


def with_cell_bounds(df: DataFrame, res: int, cell: str = "cell") -> DataFrame:
    """Raster->vector: decode a cell id into its bbox corner columns
    (x0, y0, x1, y1) — the vector-tile geometry of a raster cell, pure
    column math (the inverse of with_cell; corners are exact doubles
    since cell extents are powers-of-two divisions of 360/180)."""
    w, h = cell_width_deg(res), cell_height_deg(res)
    ix = unpack_ix(F.col(cell), res)
    iy = unpack_iy(F.col(cell), res)
    return (df.withColumn("x0", F.lit(-180.0) + ix * F.lit(w))
              .withColumn("y0", F.lit(-90.0) + iy * F.lit(h))
              .withColumn("x1", F.lit(-180.0) + (ix + 1) * F.lit(w))
              .withColumn("y1", F.lit(-90.0) + (iy + 1) * F.lit(h)))


def cell_bbox_wkt(df: DataFrame, res: int, cell: str = "cell",
                  out: str = "tile_wkt") -> DataFrame:
    """Vector-tile WKT polygon per cell (for export/preview sinks) —
    built on with_cell_bounds with JVM string concat."""
    b = with_cell_bounds(df, res, cell)
    def f(c):
        return F.col(c).cast("string")
    return b.withColumn(out, F.concat(
        F.lit("POLYGON (("), f("x0"), F.lit(" "), f("y0"), F.lit(", "),
        f("x1"), F.lit(" "), f("y0"), F.lit(", "), f("x1"), F.lit(" "), f("y1"),
        F.lit(", "), f("x0"), F.lit(" "), f("y1"), F.lit(", "),
        f("x0"), F.lit(" "), f("y0"), F.lit("))")))


def tile_pyramid(df: DataFrame, base_res: int = 13,
                 levels: tuple[int, ...] = (10, 7),
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Multi-resolution tile pyramid: per-cell point counts at
    ``base_res`` plus every coarser level in ``levels`` — the
    map-tiling rollup behind the reference's multi-zoom map panel
    (OSMController.js zoom levels over the PostGIS-clustered geometry,
    schema.sql:38-39) and the north-star's "cells at multiple
    resolutions".

    Scale shape: ONE scan of the raw rows and ONE shuffle. Each point
    explodes into its (res, cell) pair per level — the coarser cell is
    an exact integer shift of the base (ix, iy) (parent = child
    indices >> Δres), so no re-derivation from lon/lat — and a single
    groupBy(res, cell) with map-side combine collapses each map
    partition to at most one row per distinct touched cell before the
    exchange. (The tempting alternative — aggregate the base level
    first and roll coarser levels up from that frame via union — plans
    as THREE scans of the input because static exchange reuse does not
    dedupe the union branches; measured, not guessed.) All arithmetic
    is integer and mirrored in SQL by ``sql_tile_pyramid`` for the
    value-exact oracle."""
    if any(r >= base_res for r in levels):
        raise ValueError("levels must all be coarser than base_res")
    if len(set(levels)) != len(levels):
        raise ValueError("duplicate levels would double-count points")
    b = with_cell(df, base_res, lon=lon, lat=lat)
    pairs = [F.struct(F.lit(base_res).cast("long").alias("res"),
                      F.col("cell").alias("cell"))]
    for rc in levels:
        d = base_res - rc
        pairs.append(F.struct(
            F.lit(rc).cast("long").alias("res"),
            pack_cell(F.shiftright(F.col("ix"), d),
                      F.shiftright(F.col("iy"), d), rc).alias("cell")))
    return (b.select(F.explode(F.array(*pairs)).alias("rc"))
             .groupBy(F.col("rc.res").alias("res"), F.col("rc.cell").alias("cell"))
             .agg(F.count(F.lit(1)).alias("n_points")))


def tile_topk_pyramid(df: DataFrame, base_res: int = 13,
                      levels: tuple[int, ...] = (10, 7), k: int = 3,
                      key: str = "subject", lon: str = "lon",
                      lat: str = "lat",
                      rank_col: str | None = None) -> DataFrame:
    """Per-tile top-k representative selection at EVERY zoom level in
    one pass — the label/POI-thinning a tile server runs before
    rendering (each tile shows at most ``k`` features; every zoom
    re-selects from ALL points by importance, the standard
    importance-filter semantics, NOT a subset of the finer zoom's
    picks).

    Scale shape: the same explode-then-single-consumer family as
    ``tile_pyramid`` — one scan, one explode into (res, tile) pairs
    via exact integer shifts of the base (ix, iy), then ONE window
    partitioned by (res, tile) that compiles to WindowGroupLimit: at
    most ``k`` rows per tile survive each input partition before the
    shuffle. Ordering: ``rank_col`` ascending (importance) with
    ``key`` as the deterministic total-order tie-break."""
    from pyspark.sql import Window

    if any(r >= base_res for r in levels):
        raise ValueError("levels must all be coarser than base_res")
    if len(set(levels)) != len(levels):
        raise ValueError("duplicate levels would duplicate selections")
    b = with_cell(df, base_res, lon=lon, lat=lat)
    pairs = [F.struct(F.lit(base_res).cast("long").alias("res"),
                      F.col("cell").alias("cell"))]
    for rc in levels:
        d = base_res - rc
        pairs.append(F.struct(
            F.lit(rc).cast("long").alias("res"),
            pack_cell(F.shiftright(F.col("ix"), d),
                      F.shiftright(F.col("iy"), d), rc).alias("cell")))
    keep = [key, lon, lat] + ([rank_col] if rank_col else [])
    ex = (b.select(*keep, F.explode(F.array(*pairs)).alias("rc"))
          .select(*keep, F.col("rc.res").alias("res"),
                  F.col("rc.cell").alias("cell")))
    order = ([F.col(rank_col).asc()] if rank_col else []) + [F.col(key).asc()]
    w = Window.partitionBy("res", "cell").orderBy(*order)
    return (ex.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("res", "cell", "rank", key, lon, lat))


def sql_tile_topk_pyramid(key_expr: str, lon_expr: str, lat_expr: str,
                          rank_expr: str, from_clause: str,
                          base_res: int = 13,
                          levels: tuple[int, ...] = (10, 7),
                          k: int = 3) -> str:
    """DuckDB mirror of ``tile_topk_pyramid``: same shifts, same pack,
    same (rank, key) total order per (res, tile). Emit under WITH; the
    result lands in a ``topk(res, cell, rank, k, lon, lat)`` CTE."""
    pts = (f"tkpts AS (SELECT {key_expr} AS k, {lon_expr} AS lon, "
           f"{lat_expr} AS lat, {rank_expr} AS ord, "
           f"{sql_ix(lon_expr, base_res)} AS ix, "
           f"{sql_iy(lat_expr, base_res)} AS iy {from_clause})")
    sel = []
    for rc in [base_res] + list(levels):
        d = base_res - rc
        ixe = "ix" if d == 0 else f"(ix // {1 << d})"
        iye = "iy" if d == 0 else f"(iy // {1 << d})"
        cell = (f"CAST({rc} * {1 << _RES_SHIFT} + {ixe} * {1 << rc} "
                f"+ {iye} AS BIGINT)")
        sel.append(
            f"SELECT res, cell, rank, k, lon, lat FROM ("
            f"SELECT CAST({rc} AS BIGINT) AS res, {cell} AS cell, "
            f"CAST(ROW_NUMBER() OVER (PARTITION BY {cell} "
            f"ORDER BY ord, k) AS INT) AS rank, k, lon, lat FROM tkpts) "
            f"WHERE rank <= {k}")
    return pts + ",\ntopk AS (\n" + "\nUNION ALL\n".join(sel) + ")"


def sql_tile_pyramid(lon_expr: str, lat_expr: str, from_clause: str,
                     base_res: int = 13,
                     levels: tuple[int, ...] = (10, 7)) -> str:
    """DuckDB mirror of ``tile_pyramid``: same base (ix, iy) grid
    expressions, same integer-shift parent derivation (``// 2^d`` ==
    shiftright for the non-negative indices), same pack formula."""
    parts = [
        f"pts AS (SELECT {sql_ix(lon_expr, base_res)} AS ix, "
        f"{sql_iy(lat_expr, base_res)} AS iy {from_clause})",
        "base AS (SELECT ix, iy, COUNT(*) AS n_points FROM pts GROUP BY ix, iy)",
    ]
    sel = [
        f"SELECT CAST({base_res} AS BIGINT) AS res, "
        f"CAST({base_res} * {1 << _RES_SHIFT} + ix * {1 << base_res} + iy AS BIGINT) AS cell, "
        f"CAST(n_points AS BIGINT) AS n_points FROM base"
    ]
    for rc in levels:
        d = base_res - rc
        sel.append(
            f"SELECT CAST({rc} AS BIGINT) AS res, "
            f"CAST({rc} * {1 << _RES_SHIFT} + (ix // {1 << d}) * {1 << rc} "
            f"+ (iy // {1 << d}) AS BIGINT) AS cell, "
            f"CAST(SUM(n_points) AS BIGINT) AS n_points "
            f"FROM base GROUP BY ix // {1 << d}, iy // {1 << d}")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


def bbox_cells_range(res: int, xmin: float, ymin: float, xmax: float, ymax: float):
    """Inclusive (ix0, ix1, iy0, iy1) index ranges covering a bbox — the
    viewport prefilter (BatchFindLinkServlet.java:395-417) as partition
    pruning."""
    n = 1 << res

    def clampx(v):
        return min(n - 1, max(0, int(math.floor((v + 180.0) / 360.0 * n))))

    def clampy(v):
        return min(n - 1, max(0, int(math.floor((v + 90.0) / 180.0 * n))))

    return clampx(xmin), clampx(xmax), clampy(ymin), clampy(ymax)


# ---------------------------------------------------------------------------
# DuckDB-mirrored SQL fragments (for oracle_sql parity). The expressions are
# textually identical semantics: floor/least/greatest behave the same.
# ---------------------------------------------------------------------------

def sql_ix(lon_expr: str, res: int) -> str:
    n = 1 << res
    return (f"CAST(GREATEST(0, LEAST({n - 1}, "
            f"FLOOR(({lon_expr} + 180.0) / 360.0 * {float(n)}))) AS BIGINT)")


def sql_iy(lat_expr: str, res: int) -> str:
    n = 1 << res
    return (f"CAST(GREATEST(0, LEAST({n - 1}, "
            f"FLOOR(({lat_expr} + 90.0) / 180.0 * {float(n)}))) AS BIGINT)")


def sql_cell(lon_expr: str, lat_expr: str, res: int) -> str:
    return (f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} "
            f"+ {sql_ix(lon_expr, res)} * {1 << res} + {sql_iy(lat_expr, res)})")


# ---------------------------------------------------------------------------
# Z-order (Morton) spatial layout key.
# ---------------------------------------------------------------------------
#
# pack_cell's (ix << res) | iy key sorts column-major: a file of
# consecutive ids spans a tall lon-sliver of the whole latitude range,
# so parquet min/max stats prune almost nothing for a 2-D viewport.
# Interleaving the bits (z = ...y1x1y0x0) makes byte-adjacent rows
# geo-adjacent — the same layout trick as Iceberg's zorder() sort and
# GeoHash's base-32 string. Writing the entity table
# repartitionByRange + sortWithinPartitions on z gives every file a
# tight lon/lat bbox, so a bbox query's row-group/file skipping
# actually bites (tested: total per-file bbox area shrinks ~10x vs
# key-ordered layout on clustered points).

def zorder_col(ix: Column, iy: Column, res: int) -> Column:
    """Morton interleave of the res-bit ix/iy — static expression tree
    of 2*res shift-mask-scale terms, all inside codegen."""
    if res > 28:
        raise ValueError("zorder_col: res > 28 overflows the int64 key")
    z = F.lit(0).cast("long")
    for k in range(res):
        z = z + F.shiftright(ix, k).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * k + 1))
        z = z + F.shiftright(iy, k).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * k))
    return z


def sql_zorder(ix_expr: str, iy_expr: str, res: int) -> str:
    """DuckDB mirror of zorder_col (same shift/mask/scale terms)."""
    terms = []
    for k in range(res):
        terms.append(f"((({ix_expr}) >> {k}) & 1) * {1 << (2 * k + 1)}")
        terms.append(f"((({iy_expr}) >> {k}) & 1) * {1 << (2 * k)}")
    return "(" + " + ".join(terms) + ")"


def write_zordered(df: DataFrame, path: str, res: int,
                   lon: str = "lon", lat: str = "lat",
                   num_files: int = 32) -> None:
    """Materialize ``df`` in z-order: range-partition on the Morton key
    (each output file owns a contiguous z interval == a compact spatial
    region), sort within partitions, drop the helper key. The
    Iceberg ``rewrite_data_files(strategy=>'sort', sort_order=>
    zorder(lon,lat))`` analog for plain parquet."""
    z = zorder_col(ix_col(F.col(lon), res), iy_col(F.col(lat), res), res)
    (df.withColumn("_z", z)
       .repartitionByRange(num_files, "_z")
       .sortWithinPartitions("_z")
       .drop("_z")
       .write.mode("overwrite").parquet(path))


# ---------------------------------------------------------------------------
# Skew handling: stats pass + salting + adaptive resolution promotion.
# (SURVEY.md §4 "custom work": dense city cells blow up the cell join.)
# ---------------------------------------------------------------------------

def quadkey_col(ix: Column, iy: Column, res: int) -> Column:
    """res-character quadkey ('0'-'3' per level, most significant
    first; digit = ix bit + 2*iy bit) — the string tile address
    Bing/Leaflet-style XYZ tile servers key on (the reference's UI is
    a Leaflet map fetching such tiles). Defining property: the first d
    characters ARE the ancestor tile's quadkey at res d, so a prefix
    range scan selects a whole subtree and the pyramid rollup is a
    substring groupBy. Static concat of shift-mask terms — all
    codegen."""
    digits = []
    for k in range(res - 1, -1, -1):
        dig = (F.shiftright(ix, k).bitwiseAND(F.lit(1))
               + F.shiftright(iy, k).bitwiseAND(F.lit(1)) * F.lit(2))
        digits.append(dig.cast("string"))
    return F.concat(*digits) if digits else F.lit("")


def sql_quadkey(ix_expr: str, iy_expr: str, res: int) -> str:
    """DuckDB mirror of quadkey_col (same digit terms)."""
    parts = [f"CAST(((({ix_expr}) >> {k}) & 1) + ((({iy_expr}) >> {k}) & 1) * 2 "
             f"AS VARCHAR)" for k in range(res - 1, -1, -1)]
    return "(" + " || ".join(parts) + ")" if parts else "''"


def tile_id_col(ix: Column, iy: Column, res: int) -> Column:
    """Slippy-style 'z/x/y' tile path string for XYZ tile URLs."""
    return F.concat(F.lit(f"{res}/"), ix.cast("string"),
                    F.lit("/"), iy.cast("string"))


# Standard geohash base-32 alphabet (no a/i/l/o).
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_precision(res: int) -> int:
    """Geohash character count for a res-bit-per-axis grid. A geohash
    of p chars encodes 5p bits, lon-first interleaved; for even p that
    is exactly 5p/2 bits per axis, so the grid and geohash subdivision
    trees coincide IFF 2*res is a multiple of 5 (res 5, 10, 15, 20...
    -> 2, 4, 6, 8... chars)."""
    if (2 * res) % 5 != 0:
        raise ValueError(
            f"geohash needs 2*res % 5 == 0 (res in 5,10,15,...); got {res}")
    return 2 * res // 5


def geohash_col(ix: Column, iy: Column, res: int) -> Column:
    """Standard geohash string of cell (ix, iy): the THIRD string tile
    address next to quadkey/slippy, and the one external geo tooling
    (Elasticsearch, Redis GEO, PostGIS ST_GeoHash) speaks natively.
    ix/iy are this module's grid indices — geohash's binary bisection
    of lon/lat is the same floor((lon+180)/360 * 2^res) tree, so the
    bits of ix/iy ARE the geohash bits: char k packs interleaved bits
    lon-first, 5 per char, MSB first. Shares quadkey_col's defining
    prefix property (first q chars = ancestor's geohash). Static
    shift/mask expression tree + one element_at per char — all
    codegen, no UDF."""
    p = _geohash_precision(res)
    alphabet = F.array(*[F.lit(ch) for ch in GEOHASH_ALPHABET])
    chars = []
    for c in range(p):
        val = F.lit(0).cast("long")
        for t in range(5):
            j = 5 * c + t              # global bit index, lon-first
            if j % 2 == 0:
                bit = F.shiftright(ix, res - 1 - j // 2).bitwiseAND(F.lit(1))
            else:
                bit = F.shiftright(iy, res - 1 - (j - 1) // 2).bitwiseAND(F.lit(1))
            val = val + bit * F.lit(1 << (4 - t))
        chars.append(F.element_at(alphabet, (val + F.lit(1)).cast("int")))
    return F.concat(*chars)


def sql_geohash(ix_expr: str, iy_expr: str, res: int) -> str:
    """DuckDB mirror of geohash_col (same bit terms, SUBSTR lookup)."""
    p = _geohash_precision(res)
    parts = []
    for c in range(p):
        terms = []
        for t in range(5):
            j = 5 * c + t
            if j % 2 == 0:
                terms.append(
                    f"((({ix_expr}) >> {res - 1 - j // 2}) & 1) * {1 << (4 - t)}")
            else:
                terms.append(
                    f"((({iy_expr}) >> {res - 1 - (j - 1) // 2}) & 1) * {1 << (4 - t)}")
        parts.append(f"SUBSTR('{GEOHASH_ALPHABET}', "
                     f"CAST(({' + '.join(terms)}) + 1 AS INT), 1)")
    return "(" + " || ".join(parts) + ")"


def geohash_value(lon: float, lat: float, res: int) -> str:
    """Python-side twin of geohash_col (test fixtures / driver-side
    literals) — one place owns the bit layout, like pack_cell_value."""
    p = _geohash_precision(res)
    n = 1 << res
    ix = min(n - 1, max(0, int(math.floor((lon + 180.0) / 360.0 * n))))
    iy = min(n - 1, max(0, int(math.floor((lat + 90.0) / 180.0 * n))))
    out = []
    for c in range(p):
        val = 0
        for t in range(5):
            j = 5 * c + t
            if j % 2 == 0:
                val += ((ix >> (res - 1 - j // 2)) & 1) << (4 - t)
            else:
                val += ((iy >> (res - 1 - (j - 1) // 2)) & 1) << (4 - t)
        out.append(GEOHASH_ALPHABET[val])
    return "".join(out)


def density_surface(df: DataFrame, res: int,
                    lon: str = "lon", lat: str = "lat",
                    counts: DataFrame | None = None) -> DataFrame:
    """Smoothed per-cell density surface: 3x3 binomial kernel
    ([1,2,1] x [1,2,1] / 16) over the res-grid point counts — the
    heatmap layer behind a Leaflet density preview (the reference's
    map panel renders raw PostGIS-clustered points; at warehouse scale
    a map wants the smoothed raster, not 10^12 markers).

    Scale shape: groupBy(ix, iy) with map-side combine collapses the
    raw rows first, THEN the 9-way neighbor explode runs on the
    cell-level aggregate (bounded by touched cells, not input rows)
    into a second groupBy — two shuffles total, both keyed on cell
    indices. Kernel weights are sixteenths, so ``density16`` (the
    numerator) is an exact BIGINT and ``density`` = density16/16.0 is
    an exact dyadic double on any IEEE engine — value-exact by
    construction (sql mirror: sql_density_surface). World-edge cells
    simply lose the out-of-grid taps (no wraparound), matching the
    SQL mirror's bounds filter.
    ``counts``: a precomputed cell_counts frame to share the rollup
    with the rest of the ESDA layer."""
    n = 1 << res
    if counts is None:
        counts = cell_counts(df, res, lon=lon, lat=lat)
    counts = counts.select("ix", "iy", F.col("x").alias("n"))
    offs = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    c = (counts.withColumn("_dx", F.explode(offs))
               .withColumn("_dy", F.explode(offs)))
    nix = F.col("ix") + F.col("_dx")
    niy = F.col("iy") + F.col("_dy")
    w = (F.lit(2) - F.abs(F.col("_dx"))) * (F.lit(2) - F.abs(F.col("_dy")))
    return (c.filter((nix >= 0) & (nix < n) & (niy >= 0) & (niy < n))
             .select(nix.alias("ix"), niy.alias("iy"),
                     (F.col("n") * w).alias("_c"))
             .groupBy("ix", "iy")
             .agg(F.sum("_c").cast("long").alias("density16"))
             .select(pack_cell(F.col("ix"), F.col("iy"), res).alias("cell"),
                     "ix", "iy", "density16",
                     (F.col("density16") / F.lit(16.0)).alias("density")))


def sql_density_surface(lon_expr: str, lat_expr: str, from_clause: str,
                        res: int) -> str:
    """DuckDB mirror of density_surface: same count rollup, same 9-tap
    stencil via VALUES cross joins, same /16.0 dyadic divide."""
    n = 1 << res
    return f"""WITH pts AS (SELECT {sql_ix(lon_expr, res)} AS ix,
             {sql_iy(lat_expr, res)} AS iy {from_clause}),
cnt AS (SELECT ix, iy, COUNT(*) AS n FROM pts GROUP BY ix, iy),
st AS (SELECT cnt.ix + dx.dx AS ix, cnt.iy + dy.dy AS iy,
              n * (2 - ABS(dx.dx)) * (2 - ABS(dy.dy)) AS c
       FROM cnt
       CROSS JOIN (VALUES (-1), (0), (1)) AS dx(dx)
       CROSS JOIN (VALUES (-1), (0), (1)) AS dy(dy)
       WHERE cnt.ix + dx.dx BETWEEN 0 AND {n - 1}
         AND cnt.iy + dy.dy BETWEEN 0 AND {n - 1})
SELECT CAST({res} * {1 << _RES_SHIFT} + ix * {1 << res} + iy AS BIGINT) AS cell,
       ix, iy, CAST(SUM(c) AS BIGINT) AS density16,
       CAST(SUM(c) AS BIGINT) / 16.0 AS density
FROM st GROUP BY ix, iy"""


def cell_counts(df: DataFrame, res: int, lon: str = "lon",
                lat: str = "lat") -> DataFrame:
    """Per-occupied-cell point counts (ix, iy, cell, x) — the shared
    base rollup of the whole ESDA layer (hotspots, LISA, Moran's I,
    grid-DBSCAN all start from exactly this frame). One map-side-
    combined groupBy; compute it ONCE, ``.persist()``, and hand it to
    every consumer via their ``counts=`` / ``field=`` parameters so an
    analytics mart pays a single pass over the points instead of one
    per statistic (r3 verdict item 4)."""
    return (with_cell(df.select(lon, lat), res, lon=lon, lat=lat)
            .groupBy("ix", "iy", "cell")
            .agg(F.count(F.lit(1)).alias("x")))


def field_frame(df: DataFrame, res: int, lon: str = "lon",
                lat: str = "lat",
                counts: DataFrame | None = None) -> DataFrame:
    """Shared ESDA field frame (hotspots + local_morans_i): per
    occupied cell (ix, iy, x, wx, wi) joined with the one-row global
    (n, s1, s2) — ONE count rollup, one broadcast scalar agg, one
    stencil-after-aggregate 9-tap neighbor sum, wi = in-bounds window
    size from pure arithmetic. Both consumers derive their statistic
    from this frame with pure column math, and sql mirrors share
    _sql_field_cte so the four copies can never desynchronize.
    ``counts``: a precomputed (persisted) cell_counts frame — pass the
    same one to morans_i / grid_dbscan to share the rollup."""
    n_grid = 1 << res
    if counts is None:
        counts = cell_counts(df, res, lon=lon, lat=lat)
    counts = counts.select("ix", "iy", "x")
    g = counts.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("s1"),
                   F.sum(F.col("x") * F.col("x")).alias("s2"))
    offs = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    taps = (counts.withColumn("_dx", F.explode(offs))
                  .withColumn("_dy", F.explode(offs)))
    nix = F.col("ix") + F.col("_dx")
    niy = F.col("iy") + F.col("_dy")
    nbr = (taps.filter((nix >= 0) & (nix < n_grid)
                       & (niy >= 0) & (niy < n_grid))
               .select(nix.alias("ix"), niy.alias("iy"), "x")
               .groupBy("ix", "iy")
               .agg(F.sum("x").alias("wx")))
    wi = ((F.least(F.col("ix") + 1, F.lit(n_grid - 1))
           - F.greatest(F.col("ix") - 1, F.lit(0)) + 1)
          * (F.least(F.col("iy") + 1, F.lit(n_grid - 1))
             - F.greatest(F.col("iy") - 1, F.lit(0)) + 1))
    return (counts.join(nbr, ["ix", "iy"]).crossJoin(F.broadcast(g))
            .withColumn("wi", wi.cast("long")))


def _sql_field_cte(lon_expr: str, lat_expr: str, from_clause: str,
                   res: int) -> str:
    """DuckDB twin of field_frame: the shared pts/cnt/gstats/nbr/j
    CTE chain. Every SUM output is CAST AS BIGINT (DuckDB SUM(BIGINT)
    is HUGEINT, which the driver's pandas canonicalizer would coerce
    to float64 and hash-mismatch Spark's long)."""
    n = 1 << res
    return f"""pts AS (SELECT {sql_ix(lon_expr, res)} AS ix,
             {sql_iy(lat_expr, res)} AS iy {from_clause}),
cnt AS (SELECT ix, iy, COUNT(*) AS x FROM pts GROUP BY ix, iy),
gstats AS (SELECT COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2 FROM cnt),
nbr AS (SELECT cnt.ix + dx.dx AS ix, cnt.iy + dy.dy AS iy,
               CAST(SUM(x) AS BIGINT) AS wx
        FROM cnt
        CROSS JOIN (VALUES (-1), (0), (1)) AS dx(dx)
        CROSS JOIN (VALUES (-1), (0), (1)) AS dy(dy)
        WHERE cnt.ix + dx.dx BETWEEN 0 AND {n - 1}
          AND cnt.iy + dy.dy BETWEEN 0 AND {n - 1}
        GROUP BY 1, 2),
j AS (SELECT c.ix, c.iy, c.x, nbr.wx,
             CAST((LEAST(c.ix + 1, {n - 1}) - GREATEST(c.ix - 1, 0) + 1)
                * (LEAST(c.iy + 1, {n - 1}) - GREATEST(c.iy - 1, 0) + 1)
                  AS BIGINT) AS wi,
             g.n, g.s1, g.s2
      FROM cnt c JOIN nbr ON nbr.ix = c.ix AND nbr.iy = c.iy
      CROSS JOIN gstats g)"""


def hotspots(df: DataFrame, res: int,
             lon: str = "lon", lat: str = "lat",
             field: DataFrame | None = None) -> DataFrame:
    """Getis-Ord Gi* hotspot score per occupied cell — the
    statistically normalized companion to ``density_surface``: where
    the heatmap shows raw smoothed mass, Gi* says how many standard
    deviations a cell's 3x3 neighborhood sum sits above the global
    mean, so hotspots are comparable across datasets and scales
    (Getis & Ord 1992, binary weights, self included).

    Sparse-lattice convention (documented, both engines): the universe
    is the OCCUPIED cells (n = count of distinct occupied cells;
    unoccupied cells contribute x = 0 to neighborhood sums and are not
    scored); W_i is the full in-bounds 3x3 window size (9, less at the
    world edge) — computable from (ix, iy) arithmetic without ever
    materializing the empty lattice.

    Scale shape: one map-side-combined count rollup, one single-row
    global aggregate broadcast back, and the same
    stencil-after-aggregate explode as density_surface (9 taps on
    CELLS, not points). Float contract: every term derives from BIGINT
    aggregates via the IEEE ops + - * / sqrt with a fixed association,
    mirrored literally by sql_hotspots — value-exact, no
    transcendentals. Cells where the Gi* denominator is 0 (constant
    counts, or a window covering the whole universe) score NULL.
    ``field``: a precomputed field_frame to share with local_morans_i
    (compute once, persist, pass to both)."""
    j = field_frame(df, res, lon, lat) if field is None else field
    nd = F.col("n").cast("double")
    xbar = F.col("s1").cast("double") / nd
    s = F.sqrt(F.col("s2").cast("double") / nd - xbar * xbar)
    wid = F.col("wi").cast("double")
    num = F.col("wx").cast("double") - wid * xbar
    den = s * F.sqrt((nd * wid - wid * wid) / (nd - F.lit(1.0)))
    return j.select(pack_cell(F.col("ix"), F.col("iy"), res).alias("cell"),
                    "ix", "iy", "x", "wx", "wi",
                    F.when(den != 0.0, num / den).alias("gi_star"))


def sql_hotspots(lon_expr: str, lat_expr: str, from_clause: str,
                 res: int) -> str:
    """DuckDB mirror of hotspots: the shared _sql_field_cte rollups,
    then the SAME float expression tree (association preserved term
    by term)."""
    n = 1 << res
    return f"""WITH {_sql_field_cte(lon_expr, lat_expr, from_clause, res)}
SELECT CAST({res} * {1 << _RES_SHIFT} + ix * {n} + iy AS BIGINT) AS cell,
       ix, iy, x, wx, wi,
       CASE WHEN (SQRT(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  * SQRT((CAST(n AS DOUBLE) * CAST(wi AS DOUBLE)
                          - CAST(wi AS DOUBLE) * CAST(wi AS DOUBLE))
                         / (CAST(n AS DOUBLE) - 1.0))) <> 0.0
            THEN (CAST(wx AS DOUBLE)
                  - CAST(wi AS DOUBLE)
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (SQRT(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * SQRT((CAST(n AS DOUBLE) * CAST(wi AS DOUBLE)
                            - CAST(wi AS DOUBLE) * CAST(wi AS DOUBLE))
                           / (CAST(n AS DOUBLE) - 1.0)))
            ELSE NULL END AS gi_star
FROM j"""


def cell_stats(df: DataFrame, cell: str = "cell") -> DataFrame:
    return df.groupBy(cell).agg(F.count(F.lit(1)).alias("cell_rows"))


def hot_cells(df: DataFrame, threshold: int, cell: str = "cell") -> DataFrame:
    """Cells whose row count exceeds ``threshold`` — candidates for
    salting / resolution promotion. Cheap stats pass (map-side combine)."""
    return cell_stats(df, cell).filter(F.col("cell_rows") > threshold)


def with_salt(df: DataFrame, n_salts: int, key: str, out: str = "salt") -> DataFrame:
    """Deterministic salt in [0, n_salts) from a stable key column."""
    return df.withColumn(out, F.pmod(F.xxhash64(F.col(key)), F.lit(n_salts)).cast("int"))


def explode_salts(df: DataFrame, n_salts: int, out: str = "salt") -> DataFrame:
    """Replicate the small side across all salt values (broadcast-style
    skew mitigation for the cell join)."""
    return df.withColumn(out, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))


def promote_hot_cells(df: DataFrame, hot: DataFrame, fine_res: int,
                      lon: str = "lon", lat: str = "lat", cell: str = "cell") -> DataFrame:
    """Adaptive cell splitting: rows in hot cells get re-assigned to the
    finer resolution; others keep their cell. ``hot`` = output of
    ``hot_cells`` (broadcast — it is tiny by construction)."""
    hot_marked = F.broadcast(hot.select(F.col(cell).alias("_hot_cell"), F.lit(True).alias("_is_hot")))
    out = (df.join(hot_marked, df[cell] == hot_marked._hot_cell, "left")
             .withColumn(cell,
                         F.when(F.col("_is_hot"),
                                cell_col(F.col(lon), F.col(lat), fine_res))
                          .otherwise(F.col(cell)))
             .drop("_hot_cell", "_is_hot"))
    return out


def tile_counts_update(prev: DataFrame, added: DataFrame,
                       removed: DataFrame, res: int = 7,
                       lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Incremental maintenance of a (tile, n_entities) rollup from a
    snapshot changelog (checkpoint.CheckpointStore.diff): merge the
    previous counts with per-cell +added/-removed deltas instead of
    rescanning the whole entity table. Cost is proportional to the
    CHANGE — the only shuffle keys are the touched cells — which at a
    10^12-row warehouse is the difference between a daily full rebuild
    and a minutes-long delta merge. Tiles whose count reaches zero
    drop out, exactly matching a fresh full rollup (tested)."""
    da = (added.groupBy(cell_col(F.col(lon), F.col(lat), res).alias("tile"))
          .agg(F.count(F.lit(1)).alias("_add")))
    dr = (removed.groupBy(cell_col(F.col(lon), F.col(lat), res).alias("tile"))
          .agg(F.count(F.lit(1)).alias("_rem")))
    merged = (prev.join(da, "tile", "full")
              .join(dr, "tile", "full")
              .select("tile",
                      (F.coalesce(F.col("n_entities"), F.lit(0))
                       + F.coalesce(F.col("_add"), F.lit(0))
                       - F.coalesce(F.col("_rem"), F.lit(0)))
                      .alias("n_entities")))
    return merged.filter(F.col("n_entities") > 0)


def morans_i(df: DataFrame, res: int,
             lon: str = "lon", lat: str = "lat",
             counts: DataFrame | None = None) -> DataFrame:
    """Global Moran's I spatial autocorrelation of the per-cell point
    counts (Moran 1950; binary 8-adjacency weights over OCCUPIED
    cells, the hotspots() sparse-lattice convention) — one number
    saying whether activity clusters (+), disperses (-), or scatters
    randomly (~ -1/(n-1)).

    Everything reduces to FIVE integer scalars before any float math:
    n, S1 = sum x, S2 = sum x^2 over occupied cells, and over directed
    adjacent pairs W = count, num = sum x_i*x_j, tsum = sum (x_i+x_j).
    Expanding sum w_ij (x_i - xbar)(x_j - xbar) = num - xbar*tsum
    + xbar^2*W and sum (x_i - xbar)^2 = S2 - 2*xbar*S1 + n*xbar^2
    keeps the data-dependent sums INTEGER (order-independent), so the
    final I is one fixed + - * / tree — value-exact (mirror:
    sql_morans_i). Scale shape: one count rollup, one 9-tap ring
    equi-join on cells, two single-row aggregates. Returns one row
    (n_cells, w_pairs, morans_i); NULL when n < 2 or variance is 0.
    ``counts``: a precomputed cell_counts frame to share the rollup
    with the rest of the ESDA layer."""
    if counts is None:
        counts = cell_counts(df, res, lon=lon, lat=lat)
    g = counts.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("s1"),
                   F.sum(F.col("x") * F.col("x")).alias("s2"))
    ring = (explode_ring(counts, res, 1)
            .filter(F.col("probe_cell") != F.col("cell"))
            .select(F.col("probe_cell").alias("cell"),
                    F.col("x").alias("xj")))
    pairs = ring.join(counts.select("cell", F.col("x").alias("xi")), "cell")
    pg = pairs.agg(F.count(F.lit(1)).alias("w"),
                   F.sum(F.col("xi") * F.col("xj")).alias("num"),
                   F.sum(F.col("xi") + F.col("xj")).alias("tsum"))
    j = g.crossJoin(pg)
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    wd = F.col("w").cast("double")
    numd = F.col("num").cast("double")
    tsumd = F.col("tsum").cast("double")
    xbar = s1 / nd
    cross = numd - xbar * tsumd + xbar * xbar * wd
    var = s2 - F.lit(2.0) * xbar * s1 + nd * xbar * xbar
    i_val = (nd / wd) * (cross / var)
    return j.select(F.col("n").alias("n_cells"),
                    F.col("w").alias("w_pairs"),
                    F.when((F.col("n") >= 2) & (F.col("w") > 0)
                           & (var != 0.0), i_val).alias("morans_i"))


def sql_morans_i(lon_expr: str, lat_expr: str, from_clause: str,
                 res: int) -> str:
    """DuckDB mirror of morans_i — same integer scalars, same float
    tree (2.0e0 literal typed DOUBLE)."""
    n = 1 << res
    return f"""WITH pts AS (SELECT {sql_ix(lon_expr, res)} AS ix,
             {sql_iy(lat_expr, res)} AS iy {from_clause}),
cnt AS (SELECT ix, iy, COUNT(*) AS x FROM pts GROUP BY ix, iy),
gstats AS (SELECT COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2 FROM cnt),
pr AS (SELECT a.x AS xi, b.x AS xj FROM cnt a JOIN cnt b
       ON b.ix BETWEEN a.ix - 1 AND a.ix + 1
      AND b.iy BETWEEN a.iy - 1 AND a.iy + 1
      AND NOT (b.ix = a.ix AND b.iy = a.iy)),
pg AS (SELECT COUNT(*) AS w, CAST(SUM(xi * xj) AS BIGINT) AS num,
              CAST(SUM(xi + xj) AS BIGINT) AS tsum FROM pr)
SELECT CAST(n AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
       CASE WHEN n >= 2 AND w > 0
                 AND (CAST(s2 AS DOUBLE) - 2.0e0 * (CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE)) * CAST(s1 AS DOUBLE)
                      + CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE))) <> 0.0
            THEN (CAST(n AS DOUBLE) / CAST(w AS DOUBLE))
                 * ((CAST(num AS DOUBLE) - (CAST(s1 AS DOUBLE)
                     / CAST(n AS DOUBLE)) * CAST(tsum AS DOUBLE)
                     + (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * CAST(w AS DOUBLE))
                    / (CAST(s2 AS DOUBLE) - 2.0e0 * (CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE)) * CAST(s1 AS DOUBLE)
                       + CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE))))
            ELSE NULL END AS morans_i
FROM gstats CROSS JOIN pg"""


def geary_c(df: DataFrame, res: int,
            lon: str = "lon", lat: str = "lat",
            counts: DataFrame | None = None) -> DataFrame:
    """Global Geary's C spatial autocorrelation of the per-cell point
    counts (Geary 1954; binary 8-adjacency weights over OCCUPIED
    cells, the morans_i sparse-lattice convention) — the
    local-contrast companion to Moran's I: C < 1 means adjacent cells
    hold SIMILAR counts (positive autocorrelation), C > 1 dissimilar;
    because it squares pairwise DIFFERENCES instead of cross-products
    around the mean, C is more sensitive to local edges than I.

    C = ((n-1) / (2W)) * (sum_ij w_ij (x_i - x_j)^2)
                       / (sum_i (x_i - xbar)^2)
    with both double sums over DIRECTED adjacent pairs (each
    unordered pair appears twice in both W and the numerator, so the
    standard symmetric-weights formula holds verbatim).

    Same value-exactness recipe as morans_i: everything reduces to
    five integer scalars — n, S1, S2 over occupied cells, and over
    directed adjacent pairs W = count and dsum = sum (x_i - x_j)^2
    (integer, order-independent) — then one fixed + - * / tree
    (mirror: sql_geary_c). Scale shape: one count rollup, one 9-tap
    ring equi-join on cells, two single-row aggregates. Returns one
    row (n_cells, w_pairs, geary_c); NULL when n < 2, W = 0, or the
    variance sum is 0. ``counts``: a precomputed cell_counts frame to
    share the rollup with the rest of the ESDA layer."""
    if counts is None:
        counts = cell_counts(df, res, lon=lon, lat=lat)
    g = counts.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("s1"),
                   F.sum(F.col("x") * F.col("x")).alias("s2"))
    ring = (explode_ring(counts, res, 1)
            .filter(F.col("probe_cell") != F.col("cell"))
            .select(F.col("probe_cell").alias("cell"),
                    F.col("x").alias("xj")))
    pairs = ring.join(counts.select("cell", F.col("x").alias("xi")), "cell")
    pg = pairs.agg(
        F.count(F.lit(1)).alias("w"),
        F.sum((F.col("xi") - F.col("xj"))
              * (F.col("xi") - F.col("xj"))).alias("dsum"))
    j = g.crossJoin(pg)
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    wd = F.col("w").cast("double")
    dsumd = F.col("dsum").cast("double")
    xbar = s1 / nd
    var = s2 - F.lit(2.0) * xbar * s1 + nd * xbar * xbar
    c_val = ((nd - F.lit(1.0)) / (F.lit(2.0) * wd)) * (dsumd / var)
    return j.select(F.col("n").alias("n_cells"),
                    F.col("w").alias("w_pairs"),
                    F.when((F.col("n") >= 2) & (F.col("w") > 0)
                           & (var != 0.0), c_val).alias("geary_c"))


def sql_geary_c(lon_expr: str, lat_expr: str, from_clause: str,
                res: int) -> str:
    """DuckDB mirror of geary_c — same integer scalars, same float
    tree (2.0e0 / 1.0e0 literals typed DOUBLE at the token level)."""
    return f"""WITH pts AS (SELECT {sql_ix(lon_expr, res)} AS ix,
             {sql_iy(lat_expr, res)} AS iy {from_clause}),
cnt AS (SELECT ix, iy, COUNT(*) AS x FROM pts GROUP BY ix, iy),
gstats AS (SELECT COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2 FROM cnt),
pr AS (SELECT a.x AS xi, b.x AS xj FROM cnt a JOIN cnt b
       ON b.ix BETWEEN a.ix - 1 AND a.ix + 1
      AND b.iy BETWEEN a.iy - 1 AND a.iy + 1
      AND NOT (b.ix = a.ix AND b.iy = a.iy)),
pg AS (SELECT COUNT(*) AS w,
              CAST(SUM((xi - xj) * (xi - xj)) AS BIGINT) AS dsum FROM pr)
SELECT CAST(n AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
       CASE WHEN n >= 2 AND w > 0
                 AND (CAST(s2 AS DOUBLE) - 2.0e0 * (CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE)) * CAST(s1 AS DOUBLE)
                      + CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE))) <> 0.0
            THEN ((CAST(n AS DOUBLE) - 1.0e0) / (2.0e0 * CAST(w AS DOUBLE)))
                 * (CAST(dsum AS DOUBLE)
                    / (CAST(s2 AS DOUBLE) - 2.0e0 * (CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE)) * CAST(s1 AS DOUBLE)
                       + CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE))))
            ELSE NULL END AS geary_c
FROM gstats CROSS JOIN pg"""


def local_morans_i(df: DataFrame, res: int,
                   lon: str = "lon", lat: str = "lat",
                   field: DataFrame | None = None) -> DataFrame:
    """Local Moran's I (Anselin 1995 LISA) per occupied cell — the
    cluster-map companion to morans_i and hotspots: I_i =
    ((x_i - xbar) / m2) * sum_j w_ij (x_j - xbar), with the quadrant
    label (HH/LL/HL/LH) that colors a LISA map. Same sparse-lattice
    convention as hotspots(): universe = occupied cells, the 3x3
    in-bounds window supplies the weights (empty cells contribute
    x = 0), self excluded.

    The neighbor term reuses the stencil-after-aggregate shape: wx
    (9-tap occupied sum incl. self) minus x_i is the neighbor sum, and
    sum_j w_ij (x_j - xbar) = (wx - x_i) - xbar*(W_i - 1) with W_i the
    in-bounds window size — integer aggregates into a fixed float
    tree, value-exact (mirror: sql_local_morans_i). m2 is the biased
    variance (S2/n - xbar^2). Rows with m2 = 0 score NULL.
    ``field``: a precomputed field_frame to share with hotspots."""
    j = field_frame(df, res, lon, lat) if field is None else field
    nd = F.col("n").cast("double")
    xbar = F.col("s1").cast("double") / nd
    m2 = F.col("s2").cast("double") / nd - xbar * xbar
    z = F.col("x").cast("double") - xbar
    lag = ((F.col("wx").cast("double") - F.col("x").cast("double"))
           - xbar * (F.col("wi").cast("double") - F.lit(1.0)))
    i_val = (z / m2) * lag
    quad = (F.when((z > 0) & (lag > 0), F.lit("HH"))
             .when((z < 0) & (lag < 0), F.lit("LL"))
             .when((z > 0) & (lag <= 0), F.lit("HL"))
             .otherwise(F.lit("LH")))
    return j.select(pack_cell(F.col("ix"), F.col("iy"), res).alias("cell"),
                    "ix", "iy", "x", "wx", "wi",
                    F.when(m2 != 0.0, i_val).alias("lisa_i"),
                    F.when(m2 != 0.0, quad).alias("quadrant"))


def sql_local_morans_i(lon_expr: str, lat_expr: str, from_clause: str,
                       res: int) -> str:
    """DuckDB mirror of local_morans_i (same trees, term by term)."""
    n = 1 << res
    xbar = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    m2 = f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {xbar} * {xbar})"
    z = f"(CAST(x AS DOUBLE) - {xbar})"
    lag = (f"((CAST(wx AS DOUBLE) - CAST(x AS DOUBLE))"
           f" - {xbar} * (CAST(wi AS DOUBLE) - 1.0))")
    return f"""WITH {_sql_field_cte(lon_expr, lat_expr, from_clause, res)}
SELECT CAST({res} * {1 << _RES_SHIFT} + ix * {n} + iy AS BIGINT) AS cell,
       ix, iy, x, wx, wi,
       CASE WHEN {m2} <> 0.0 THEN ({z} / {m2}) * {lag} ELSE NULL END AS lisa_i,
       CASE WHEN {m2} <> 0.0 THEN
         CASE WHEN {z} > 0 AND {lag} > 0 THEN 'HH'
              WHEN {z} < 0 AND {lag} < 0 THEN 'LL'
              WHEN {z} > 0 AND {lag} <= 0 THEN 'HL'
              ELSE 'LH' END
       ELSE NULL END AS quadrant
FROM j"""


def idw_surface(points: DataFrame, res: int, value: str = "val",
                ring: int = 1, key: str = "subject",
                lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Inverse-distance-weighted interpolation of scattered sample
    values onto cell centers (Shepard 1968, power 2) — the surface a
    map renders from sparse sensor/measurement points. Every cell
    within ``ring`` of a sample gets est = sum(v_i/d_i^2) /
    sum(1/d_i^2) over the samples in ITS ring neighborhood; a sample
    sitting exactly on a cell center short-circuits to its own value
    (smallest key wins — deterministic).

    Float contract: d^2 and the weighted terms use only * - + /;
    the per-cell sums fold a KEY-SORTED sample list (F.aggregate over
    sort_array, the lang_mixture_weights recipe) so the data-dependent
    float sums are reproducible and mirrorable
    (LIST_REDUCE(LIST_PREPEND(0.0, LIST(... ORDER BY key)))) —
    value-exact despite real float accumulation. Requires ``key``
    values unique per sample row (the with_minhash/dedup_paragraphs
    precondition): the fold order is (key, term) on the Spark side
    but key-only in SQL, so duplicate keys with different values would
    accumulate in engine-specific order. Scale shape: one ring explode
    of the SAMPLES (bounded replication), one groupBy per touched
    cell; per-cell lists are bounded by neighborhood sample density,
    the same bound every stencil op here rides."""
    w_deg = cell_width_deg(res)
    h_deg = cell_height_deg(res)
    pts = with_cell(points.select(F.col(key).alias("_k"),
                                  F.col(lon).alias("_lon"),
                                  F.col(lat).alias("_lat"),
                                  F.col(value).alias("_v")),
                    res, lon="_lon", lat="_lat")
    taps = explode_ring(pts, res, ring, out="target_cell")
    tix = unpack_ix(F.col("target_cell"), res)
    tiy = unpack_iy(F.col("target_cell"), res)
    cx = F.lit(-180.0) + (tix.cast("double") + F.lit(0.5)) * F.lit(w_deg)
    cy = F.lit(-90.0) + (tiy.cast("double") + F.lit(0.5)) * F.lit(h_deg)
    dx = F.col("_lon") - cx
    dy = F.col("_lat") - cy
    d2 = dx * dx + dy * dy
    t = taps.select(
        "target_cell", "_k",
        d2.alias("_d2"),
        F.col("_v").cast("double").alias("_vd"))
    num_fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(
                F.when(F.col("_d2") > 0.0,
                       F.struct("_k", (F.col("_vd") / F.col("_d2"))
                                .alias("t"))))),
            lambda s: s["t"]),
        F.lit(0.0), lambda acc, v: acc + v)
    den_fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(
                F.when(F.col("_d2") > 0.0,
                       F.struct("_k", (F.lit(1.0) / F.col("_d2"))
                                .alias("t"))))),
            lambda s: s["t"]),
        F.lit(0.0), lambda acc, v: acc + v)
    g = (t.groupBy("target_cell")
         .agg(F.count(F.lit(1)).alias("n_samples"),
              num_fold.alias("_num"), den_fold.alias("_den"),
              F.min_by(F.col("_vd"),
                       F.when(F.col("_d2") == 0.0, F.col("_k")))
               .alias("_exact"),
              F.sum(F.when(F.col("_d2") == 0.0, 1).otherwise(0))
               .alias("_n0")))
    return g.select(F.col("target_cell").alias("cell"), "n_samples",
                    F.when(F.col("_n0") > 0, F.col("_exact"))
                     .otherwise(F.col("_num") / F.col("_den"))
                     .alias("idw"))


def sql_idw_surface(key_expr: str, lon_expr: str, lat_expr: str,
                    val_expr: str, from_clause: str, res: int,
                    ring: int = 1) -> str:
    """DuckDB mirror of idw_surface — same key-sorted folds, same
    center/d^2 trees (e0-typed DOUBLE literals); emits an ``idw`` CTE."""
    n = 1 << res
    w = repr(cell_width_deg(res)) + "e0"
    h = repr(cell_height_deg(res)) + "e0"
    offs = ", ".join(f"({d})" for d in range(-ring, ring + 1))
    return f"""ipts AS (
  SELECT {key_expr} AS k, {lon_expr} AS plon, {lat_expr} AS plat,
         CAST({val_expr} AS DOUBLE) AS vd,
         {sql_ix(lon_expr, res)} AS ix, {sql_iy(lat_expr, res)} AS iy
  {from_clause}),
itaps AS (
  SELECT k, plon, plat, vd, ix + dx.dx AS tix, iy + dy.dy AS tiy
  FROM ipts
  CROSS JOIN (VALUES {offs}) AS dx(dx)
  CROSS JOIN (VALUES {offs}) AS dy(dy)
  WHERE ix + dx.dx BETWEEN 0 AND {n - 1}
    AND iy + dy.dy BETWEEN 0 AND {n - 1}),
id2 AS (
  SELECT k, vd, tix, tiy,
         (plon - (-180.0e0 + (CAST(tix AS DOUBLE) + 0.5e0) * {w}))
       * (plon - (-180.0e0 + (CAST(tix AS DOUBLE) + 0.5e0) * {w}))
       + (plat - (-90.0e0 + (CAST(tiy AS DOUBLE) + 0.5e0) * {h}))
       * (plat - (-90.0e0 + (CAST(tiy AS DOUBLE) + 0.5e0) * {h})) AS d2
  FROM itaps),
idw AS (
  SELECT CAST({res} AS BIGINT) * {1 << _RES_SHIFT} + tix * {n} + tiy AS cell,
         COUNT(*) AS n_samples,
         CASE WHEN COUNT(*) FILTER (WHERE d2 = 0.0e0) > 0
              THEN ARG_MIN(vd, k) FILTER (WHERE d2 = 0.0e0)
              ELSE LIST_REDUCE(
                     LIST_PREPEND(CAST(0.0 AS DOUBLE),
                                  LIST(vd / d2 ORDER BY k)
                                    FILTER (WHERE d2 > 0.0e0)),
                     (acc, v) -> acc + v)
                 / LIST_REDUCE(
                     LIST_PREPEND(CAST(0.0 AS DOUBLE),
                                  LIST(1.0e0 / d2 ORDER BY k)
                                    FILTER (WHERE d2 > 0.0e0)),
                     (acc, v) -> acc + v)
         END AS idw
  FROM id2 GROUP BY tix, tiy)"""


def coverage_gaps(df: DataFrame, res: int,
                  bbox: tuple[float, float, float, float],
                  ring: int = 1,
                  lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Coverage holes -> (cell, ix, iy): cells of the ``bbox`` viewport
    with NO entity within Chebyshev distance ``ring`` cells — where
    the gazetteer/corpus has no coverage (survey-planning, "which map
    tiles would render empty", dead zones in a mobility mart). The
    dual of density_surface: that ranks what IS covered, this
    enumerates what is not.

    Scale shape: the candidate universe is GENERATED as one
    ``spark.range`` over the bbox's (nx * ny) cell indices — no input
    scan, perfectly even partitions — and the covered set is the
    input's distinct touched cells dilated by the (2*ring+1)^2 stencil
    (bounded by touched cells, not rows). One left-anti equi-join on
    the packed cell id finishes it. Work therefore scales with
    viewport area + touched cells; the 10^12-row corpus only
    contributes its distinct-cell rollup."""
    ix0, ix1, iy0, iy1 = bbox_cells_range(res, *bbox)
    nx, ny = ix1 - ix0 + 1, iy1 - iy0 + 1
    spark = df.sparkSession
    uni = (spark.range(nx * ny)
           .select((F.lit(ix0) + F.expr(f"id DIV {ny}")).alias("ix"),
                   (F.lit(iy0) + F.col("id") % ny).alias("iy")))
    uni = uni.withColumn("cell", pack_cell(F.col("ix"), F.col("iy"), res))
    cov = (df.select(ix_col(F.col(lon), res).alias("ix"),
                     iy_col(F.col(lat), res).alias("iy"))
           .distinct())
    dil = (explode_ring(cov, res, ring, out="cell")
           .select("cell").distinct())
    return (uni.join(dil, "cell", "left_anti")
            .select("cell", "ix", "iy"))


def join_counts(df: DataFrame, res: int, threshold: int = 2,
                lon: str = "lon", lat: str = "lat",
                counts: DataFrame | None = None) -> DataFrame:
    """Join-count statistics (Cliff & Ord; the CATEGORICAL sibling of
    Moran's I / Geary's C): binarize occupied cells as Black
    (x >= threshold) / White, then count Black-Black, Black-White and
    White-White DIRECTED 8-adjacent pairs. BB above the free-sampling
    expectation p_b^2 of all adjacent pairs means hot cells clump —
    the lattice test to run when the field is a label, not a level.

    Same sparse-lattice convention and scale shape as geary_c: one
    count rollup (shareable via ``counts=``), one 9-tap ring equi-join
    on occupied cells, single-row aggregates; every output is an exact
    BIGINT except bb_ratio = (bb/w) / p_b^2 — three IEEE divisions of
    exact integers, mirrored token-for-token by sql_join_counts.

    Returns one row (n_cells, n_black, w_pairs, bb, bw, ww, bb_ratio);
    bb_ratio NULL when w = 0 or n_black = 0.
    """
    if counts is None:
        counts = cell_counts(df, res, lon=lon, lat=lat)
    lab = counts.withColumn("bi", (F.col("x") >= threshold).cast("long"))
    g = lab.agg(F.count(F.lit(1)).alias("n"),
                F.sum("bi").alias("nb"))
    ring = (explode_ring(lab, res, 1)
            .filter(F.col("probe_cell") != F.col("cell"))
            .select(F.col("probe_cell").alias("cell"),
                    F.col("bi").alias("bj")))
    pairs = ring.join(lab.select("cell", "bi"), "cell")
    pg = pairs.agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(F.col("bi") * F.col("bj")).alias("bb"),
        F.sum((F.lit(1) - F.col("bi")) * (F.lit(1) - F.col("bj")))
        .alias("ww"))
    j = g.crossJoin(pg).withColumn(
        "bw", F.col("w") - F.col("bb") - F.col("ww"))
    pb = F.col("nb").cast("double") / F.col("n").cast("double")
    ratio = ((F.col("bb").cast("double") / F.col("w").cast("double"))
             / (pb * pb))
    return j.select(
        F.col("n").alias("n_cells"), F.col("nb").alias("n_black"),
        F.col("w").alias("w_pairs"),
        F.col("bb").cast("long").alias("bb"),
        F.col("bw").cast("long").alias("bw"),
        F.col("ww").cast("long").alias("ww"),
        F.when((F.col("w") > 0) & (F.col("nb") > 0), ratio)
        .alias("bb_ratio"))


def sql_join_counts(lon_expr: str, lat_expr: str, from_clause: str,
                    res: int, threshold: int = 2) -> str:
    """DuckDB mirror of join_counts — same integers, same three
    divisions."""
    return f"""WITH pts AS (SELECT {sql_ix(lon_expr, res)} AS ix,
             {sql_iy(lat_expr, res)} AS iy {from_clause}),
cnt AS (SELECT ix, iy, COUNT(*) AS x FROM pts GROUP BY ix, iy),
lab AS (SELECT ix, iy,
               CASE WHEN x >= {int(threshold)} THEN 1 ELSE 0 END AS bi
        FROM cnt),
gstats AS (SELECT COUNT(*) AS n, SUM(bi) AS nb FROM lab),
pr AS (SELECT a.bi AS bi, b.bi AS bj FROM lab a JOIN lab b
       ON b.ix BETWEEN a.ix - 1 AND a.ix + 1
      AND b.iy BETWEEN a.iy - 1 AND a.iy + 1
      AND NOT (b.ix = a.ix AND b.iy = a.iy)),
pg AS (SELECT COUNT(*) AS w, CAST(SUM(bi * bj) AS BIGINT) AS bb,
              CAST(SUM((1 - bi) * (1 - bj)) AS BIGINT) AS ww FROM pr)
SELECT CAST(n AS BIGINT) AS n_cells, CAST(nb AS BIGINT) AS n_black,
       CAST(w AS BIGINT) AS w_pairs, bb,
       CAST(w - bb - ww AS BIGINT) AS bw, ww,
       CASE WHEN w > 0 AND nb > 0
            THEN (CAST(bb AS DOUBLE) / CAST(w AS DOUBLE))
                 / ((CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)))
            ELSE NULL END AS bb_ratio
FROM gstats CROSS JOIN pg"""


def dilate_cells(df: DataFrame, res: int, k: int = 1,
                 key: str = "subject", cell: str = "cell") -> DataFrame:
    """Morphological dilation of a raster coverage: grow each keyed
    cell set by Chebyshev radius ``k`` — the grid-native buffer
    operation (protection zones around a rasterized footprint,
    candidate halos before an exact overlay, coastline-touch rules).
    The inverse-direction twin of explode_ring's probe expansion,
    applied to a MATERIALIZED raster instead of points.

    Pure integer plan: unpack ix/iy by shifts, explode the
    (2k+1)^2 literal offset square, clamp to the grid, repack,
    distinct per key — one shuffle (the distinct), work proportional
    to boundary x k, no geometry parsing.

    Returns (key, cell) distinct dilated coverage.
    """
    base = df.select(F.col(key).alias("_k"),
                     unpack_ix(F.col(cell), res).alias("ix"),
                     unpack_iy(F.col(cell), res).alias("iy"))
    out = explode_ring(base, res, int(k), out="cell")
    return (out.select(F.col("_k").alias(key), "cell").distinct())


def distance_transform(seeds: DataFrame, res: int, max_d: int,
                       cell: str = "cell") -> DataFrame:
    """Bounded Chebyshev distance transform of a seed cell set: for
    every cell within grid distance ``max_d`` of ANY seed, the
    distance to the nearest seed — the raster "distance to nearest
    road/coast/POI" layer that turns a feature raster into a cost
    surface (site suitability, proximity scoring for geocoded
    documents). Cells farther than ``max_d`` are absent (unbounded
    transforms don't exist on an infinite grid; the bound IS the
    operator, exactly like dwithin's radius).

    One-shot, not iterative: each seed explodes its (2*max_d+1)^2
    offset square with the literal Chebyshev radius
    max(|dx|, |dy|) attached, then one MIN-per-cell rollup (map-side
    combinable). Work ∝ seeds x (2*max_d+1)^2 — choose res so max_d
    stays small, the explode_ring sizing rule. Pure integers.

    Returns (cell, dist) with dist in [0, max_d]; seed cells get 0.
    """
    k = int(max_d)
    base = seeds.select(unpack_ix(F.col(cell), res).alias("ix"),
                        unpack_iy(F.col(cell), res).alias("iy"))
    n = 1 << res
    df = (base.withColumn("_dx", F.explode(F.sequence(F.lit(-k), F.lit(k))))
          .withColumn("_dy", F.explode(F.sequence(F.lit(-k), F.lit(k)))))
    nix = F.col("ix") + F.col("_dx")
    niy = F.col("iy") + F.col("_dy")
    df = df.filter((nix >= 0) & (nix < n) & (niy >= 0) & (niy < n))
    d = F.greatest(F.abs(F.col("_dx")), F.abs(F.col("_dy")))
    return (df.select(pack_cell(nix, niy, res).alias("cell"),
                      d.cast("long").alias("_d"))
            .groupBy("cell")
            .agg(F.min("_d").cast("long").alias("dist")))


def map_clusters(df: DataFrame, res: int, lon: str = "lon",
                 lat: str = "lat", scale: int = 100) -> DataFrame:
    """Map-viewport marker clustering (the supercluster/Leaflet
    markercluster shape): one cluster per touched cell at ``res``
    with its exact member count and centroid — the layer a map UI
    renders instead of 10^12 markers, regenerated per zoom by calling
    at the tile ladder's resolutions.

    Exact-arithmetic centroid: coordinates are snapped to the
    1/``scale``-degree integer grid (the engine's 0.01-degree
    coordinate contract at the default 100), summed as BIGINTs, and
    the centroid is the fixed tree sum/n/scale — two IEEE divisions,
    no order-dependent float accumulation. One hash rollup on the
    cell key, map-side combinable.

    Returns (cell, n_points, sum_gx, sum_gy, clon, clat).
    """
    sc = int(scale)
    base = with_cell(
        df.select(F.col(lon).alias("_x"), F.col(lat).alias("_y")),
        res, lon="_x", lat="_y")
    gx = F.round(F.col("_x") * sc).cast("long")
    gy = F.round(F.col("_y") * sc).cast("long")
    agg = (base.select("cell", gx.alias("_gx"), gy.alias("_gy"))
           .groupBy("cell")
           .agg(F.count(F.lit(1)).cast("long").alias("n_points"),
                F.sum("_gx").cast("long").alias("sum_gx"),
                F.sum("_gy").cast("long").alias("sum_gy")))
    return agg.select(
        "cell", "n_points", "sum_gx", "sum_gy",
        (F.col("sum_gx").cast("double") / F.col("n_points").cast("double")
         / F.lit(float(sc))).alias("clon"),
        (F.col("sum_gy").cast("double") / F.col("n_points").cast("double")
         / F.lit(float(sc))).alias("clat"))


def erode_cells(df: DataFrame, res: int, k: int = 1,
                key: str = "subject", cell: str = "cell") -> DataFrame:
    """Morphological erosion — the inverse pair of ``dilate_cells``:
    keep a cell only if its ENTIRE Chebyshev-``k`` neighborhood
    (clipped to the grid) is present in the same keyed coverage.
    Erode-then-dilate (opening) strips salt-noise cells off a raster
    footprint; dilate-then-erode (closing) fills pinholes — the
    standard cleanup pass between center-sample rasterization and
    area statistics.

    Plan: one dilation-shaped explode scatters each present cell
    into its neighborhood, a count rollup tallies how many of each
    cell's neighbors exist, and a join back against the input keeps
    cells whose tally equals their own in-grid window size (computed
    per cell from the clamp arithmetic, so grid-border cells erode
    correctly rather than vanishing by fiat). Work ∝ coverage x
    (2k+1)^2, pure integers, two shuffles.

    Returns (key, cell) eroded coverage.
    """
    kk = int(k)
    n = 1 << res
    base = df.select(F.col(key).alias("_k"),
                     unpack_ix(F.col(cell), res).alias("ix"),
                     unpack_iy(F.col(cell), res).alias("iy")).distinct()
    # scatter: each present cell votes into every neighbor position
    scat = explode_ring(base, res, kk, out="cell")
    votes = (scat.groupBy("_k", "cell")
             .agg(F.count(F.lit(1)).alias("_got")))
    # a cell's in-grid window size from the clamp arithmetic
    wx = (F.least(F.col("ix") + kk, F.lit(n - 1))
          - F.greatest(F.col("ix") - kk, F.lit(0)) + 1)
    wy = (F.least(F.col("iy") + kk, F.lit(n - 1))
          - F.greatest(F.col("iy") - kk, F.lit(0)) + 1)
    need = base.select(
        "_k", pack_cell(F.col("ix"), F.col("iy"), res).alias("cell"),
        (wx * wy).cast("long").alias("_need"))
    return (need.join(votes, ["_k", "cell"])
            .filter(F.col("_got") == F.col("_need"))
            .select(F.col("_k").alias(key), "cell"))


HEX_C1 = float(3 ** 0.5) / 3.0   # sqrt(3)/3, inlined identically in SQL
HEX_C2 = 1.0 / 3.0
HEX_C3 = 2.0 / 3.0


def hex_cell(df, size: float, lon: str = "cx", lat: str = "cy",
             q_out: str = "hq", r_out: str = "hr"):
    """Hexagonal-grid cell assignment (pointy-top axial coordinates +
    cube rounding — the H3-shaped tiling the north star names, over
    the same lon/lat plane the square grid uses; hexagons give
    isotropic neighbor distances where squares bias the diagonals).
    Pure column math: two linear forms, three round()s, and the
    largest-residual correction — every operand an inlined double
    literal, so the assignment is IEEE-mirrorable into SQL
    (round-half-away-from-zero agrees between engines; decisions are
    float comparisons on bit-identical values).

    Returns df + (q_out, r_out) integer axial coordinates.
    """
    x, y = F.col(lon), F.col(lat)
    fq = (F.lit(HEX_C1) * x - F.lit(HEX_C2) * y) / F.lit(float(size))
    fr = (F.lit(HEX_C3) * y) / F.lit(float(size))
    fy = -fq - fr
    rq, ry, rz = F.round(fq, 0), F.round(fy, 0), F.round(fr, 0)
    dq, dy, dz = F.abs(rq - fq), F.abs(ry - fy), F.abs(rz - fr)
    hq = F.when((dq > dy) & (dq > dz), -ry - rz).otherwise(rq)
    hr = (F.when((dq > dy) & (dq > dz), rz)
           .when(dy > dz, rz)
           .otherwise(-rq - ry))
    return (df.withColumn(q_out, hq.cast("long"))
              .withColumn(r_out, hr.cast("long")))


def sql_hex_cell(lon_expr: str, lat_expr: str, size: float) -> tuple:
    """DuckDB mirror of hex_cell: (hq_expr, hr_expr) strings. Literals
    spelled with repr+e0 (contract._dlit convention, inlined here to
    keep cells.py import-free of contract)."""
    def dlit(v):
        r = repr(float(v))
        return r if "e" in r or "E" in r else r + "e0"

    fq = (f"(({dlit(HEX_C1)} * ({lon_expr}) - {dlit(HEX_C2)} * "
          f"({lat_expr})) / {dlit(size)})")
    fr = f"(({dlit(HEX_C3)} * ({lat_expr})) / {dlit(size)})"
    fy = f"(-{fq} - {fr})"
    rq, ry, rz = f"ROUND({fq})", f"ROUND({fy})", f"ROUND({fr})"
    dq, dy, dz = (f"ABS({rq} - {fq})", f"ABS({ry} - {fy})",
                  f"ABS({rz} - {fr})")
    hq = (f"CAST(CASE WHEN {dq} > {dy} AND {dq} > {dz} "
          f"THEN -{ry} - {rz} ELSE {rq} END AS BIGINT)")
    hr = (f"CAST(CASE WHEN {dq} > {dy} AND {dq} > {dz} THEN {rz} "
          f"WHEN {dy} > {dz} THEN {rz} "
          f"ELSE -{rq} - {ry} END AS BIGINT)")
    return hq, hr


# marching-squares segment table: case index packs the >=T bits of the
# 2x2 block corners (b0=c00 bottom-left, b1=c10, b2=c11, b3=c01); each
# entry lists the crossed-edge pairs (0=bottom, 1=right, 2=top,
# 3=left). Saddles (5, 10) use the fixed isolate-the-hot-corners rule
# (no center disambiguation — stated).
MS_SEGS = {
    0: [], 1: [(0, 3)], 2: [(0, 1)], 3: [(1, 3)], 4: [(1, 2)],
    5: [(0, 3), (1, 2)], 6: [(0, 2)], 7: [(2, 3)], 8: [(2, 3)],
    9: [(0, 2)], 10: [(0, 1), (2, 3)], 11: [(1, 2)], 12: [(1, 3)],
    13: [(0, 1)], 14: [(0, 3)], 15: [],
}


def contour_segments(field, thresh: int, ix: str = "ix", iy: str = "iy",
                     val: str = "n"):
    """Marching-squares contour extraction over an integer cell field
    (density_surface's raster -> the vector isoline at value
    ``thresh``): per 2x2 cell block, the standard 16-case lookup
    emits 0-2 line segments whose edge-crossing endpoints are EXACT
    RATIONALS — t = (T - va)/(vb - va) over integer corner values, so
    the whole raster->vector step is BIGINT-oracle-comparable (the
    isopleth-mapping primitive; PostGIS ships it as ST_Contour-style
    raster algebra).

    Plan shape (stencil-after-aggregate, this module's principle):
    each touched cell fans to the <=4 blocks that use it as a corner
    (map-side explode), one (block) rollup rebuilds the corner
    quadruple with absent corners as 0, the case/table/interpolation
    are pure column math. Work scales with touched cells, never input
    rows.

    Returns (bi, bj, mcase, seg_idx, ax_num, ax_den, ay_num, ay_den,
    bx_num, bx_den, by_num, by_den) — endpoint A crosses the first
    edge of the table pair, B the second; dens normalized positive.
    """
    T = int(thresh)
    f = field.select(F.col(ix).alias("_x"), F.col(iy).alias("_y"),
                     F.col(val).cast("long").alias("_n"))
    fan = f.select(F.explode(F.array(
        F.struct((F.col("_x")).alias("bi"), (F.col("_y")).alias("bj"),
                 F.lit(0).alias("slot")),
        F.struct((F.col("_x") - 1).alias("bi"), (F.col("_y")).alias("bj"),
                 F.lit(1).alias("slot")),
        F.struct((F.col("_x") - 1).alias("bi"), (F.col("_y") - 1).alias("bj"),
                 F.lit(2).alias("slot")),
        F.struct((F.col("_x")).alias("bi"), (F.col("_y") - 1).alias("bj"),
                 F.lit(3).alias("slot")))).alias("_c"), F.col("_n"))
    blocks = (fan.groupBy(F.col("_c.bi").alias("bi"),
                          F.col("_c.bj").alias("bj"))
              .agg(*[F.coalesce(F.max(F.when(F.col("_c.slot") == s,
                                             F.col("_n"))), F.lit(0))
                     .alias(f"v{s}") for s in range(4)]))
    bit = lambda v: F.when(v >= T, 1).otherwise(0)
    mcase = (bit(F.col("v0")) + bit(F.col("v1")) * 2
             + bit(F.col("v2")) * 4 + bit(F.col("v3")) * 8)
    seg_table = F.array(*[
        F.array(*([F.struct(F.lit(ea).alias("ea"), F.lit(eb).alias("eb"))
                   for ea, eb in MS_SEGS[c]] or
                  [F.struct(F.lit(-1).alias("ea"), F.lit(-1).alias("eb"))]))
        for c in range(16)])
    segs = (blocks.withColumn("mcase", mcase)
            .select("bi", "bj", "mcase", "v0", "v1", "v2", "v3",
                    F.posexplode(F.element_at(seg_table,
                                              F.col("mcase") + 1))
                    .alias("seg_idx", "_s"))
            .filter(F.col("_s.ea") >= 0))

    def endpoint(edge_col, prefix):
        # per-edge (va, vb) and geometry; t = (T-va)/(vb-va), den > 0
        va = (F.when(edge_col == 0, F.col("v0"))
               .when(edge_col == 1, F.col("v1"))
               .when(edge_col == 2, F.col("v3"))
               .otherwise(F.col("v0")))
        vb = (F.when(edge_col == 0, F.col("v1"))
               .when(edge_col == 1, F.col("v2"))
               .when(edge_col == 2, F.col("v2"))
               .otherwise(F.col("v3")))
        num0, den0 = F.lit(T) - va, vb - va
        sgn = F.when(den0 < 0, F.lit(-1)).otherwise(F.lit(1))
        num, den = (num0 * sgn).cast("long"), (den0 * sgn).cast("long")
        x_num = (F.when(edge_col == 0, F.col("bi") * den + num)
                  .when(edge_col == 1, (F.col("bi") + 1) * den)
                  .when(edge_col == 2, F.col("bi") * den + num)
                  .otherwise(F.col("bi") * den))
        y_num = (F.when(edge_col == 0, F.col("bj") * den)
                  .when(edge_col == 1, F.col("bj") * den + num)
                  .when(edge_col == 2, (F.col("bj") + 1) * den)
                  .otherwise(F.col("bj") * den + num))
        return [x_num.alias(f"{prefix}x_num"), den.alias(f"{prefix}x_den"),
                y_num.alias(f"{prefix}y_num"), den.alias(f"{prefix}y_den")]

    return segs.select(
        "bi", "bj", F.col("mcase").cast("long").alias("mcase"),
        F.col("seg_idx").cast("long").alias("seg_idx"),
        *endpoint(F.col("_s.ea"), "a"), *endpoint(F.col("_s.eb"), "b"))
