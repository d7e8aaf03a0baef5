"""Cell-partitioned spatial joins: the engine's replacement for GiST.

The reference delegates every spatial predicate to a PostGIS GiST index
or Virtuoso ``bif:st_*`` builtin (SURVEY.md §2.3). At cluster scale we
replace the index with grid-cell co-partitioning:

- radius / kNN candidate search (J4,
  ``bif:st_contains(geo, center, radius/111195)``,
  FindLinkServlet.java:190-199) -> cell-ring expansion at a radius-matched
  resolution -> equi-join on cell -> exact degree-distance re-rank;
- point-in-polygon refinement (J6, GeoClusterer.java:326-334) -> polygons
  explode their envelope's cell range, points carry one cell; a cell
  equi-join plus an envelope filter in JVM codegen leaves the candidate
  pairs, and one Arrow pass ray-casts only those candidates;
- shape joins (intersects, dwithin, segment crossings and clips) -> one
  PBSM candidate core (``_pbsm_candidates``) feeding an exact refine;
- skew: dense city cells are salted (small side replicated across salts)
  and/or promoted to a finer resolution (cells.promote_hot_cells); AQE
  skew-join splitting backs both up.

All distances use the reference's degree-space convention: meters /
111195 = degrees (Constants.java:79-80); emitted distance_m multiplies
back (FindLinkServlet.java:394-407).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import cells, geom

# plain multiplication (not pow) so the doubles are bit-identical with
# SQL oracles computing (dx*dx + dy*dy)
DIST_DEG = (lambda ax, ay, bx, by:
            F.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by)))


def _widen(df: DataFrame) -> DataFrame:
    """Parallelism guard for PBSM probe sides: a broadcast-joined
    candidate pipeline executes on the probe side's SCAN partitioning,
    so a single small parquet file serializes the whole
    explode+join+refine on 1-2 tasks (measured 10.7s -> 2.5s on the
    sf0.1 map-matching candidate stage at local[32]). One cheap
    round-robin shuffle of the narrow input rows restores width;
    no-op when the frame is already wide enough."""
    try:
        want = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if df.rdd.getNumPartitions() < max(2, want // 2):
            return df.repartition(want)
    except Exception:
        pass
    return df


def _sided(df: DataFrame, side: str, cols) -> DataFrame:
    return df.select(*[F.col(c).alias(f"{side}_{c}") for c in cols])


_ENV = ("xmin", "ymin", "xmax", "ymax")
_GEO_COLS = ("subject", "geom_wkt") + _ENV


def _overlaps(p, q) -> Column:
    """Closed overlap of two envelopes given as (xmin, ymin, xmax, ymax)
    column names; a point is the envelope (x, y, x, y)."""
    return ((F.col(p[0]) <= F.col(q[2])) & (F.col(q[0]) <= F.col(p[2]))
            & (F.col(p[1]) <= F.col(q[3])) & (F.col(q[1]) <= F.col(p[3])))


def _degree_cells(res: int):
    """(cell_x, cell_y) column maps of the lon/lat grid at ``res``."""
    return (lambda c: cells.ix_col(c, res)), (lambda c: cells.iy_col(c, res))


def _explode_envelope(df: DataFrame, env, cell_x, cell_y) -> DataFrame:
    """One row per grid cell (pix, piy) the envelope ``env`` covers;
    ``cell_x``/``cell_y`` map a coordinate column to its cell index."""
    for out, lo, hi, cell in (("pix", env[0], env[2], cell_x),
                              ("piy", env[1], env[3], cell_y)):
        df = df.withColumn(out, F.explode(F.sequence(cell(F.col(lo)),
                                                     cell(F.col(hi)))))
    return df


def _auto_res(env: DataFrame, pad: float = 0.0) -> int:
    """Grid resolution of a PBSM join: ``pip_auto_res`` over both sides'
    envelopes, coarsened until a cell is at least 2*pad wide and tall
    so a padded envelope still replicates to a bounded ring."""
    res = pip_auto_res(env)
    while res > 0 and min(cells.cell_width_deg(res),
                          cells.cell_height_deg(res)) < 2 * pad:
        res -= 1
    return res


def _pbsm_candidates(a: DataFrame, b: DataFrame, res: int | None = None,
                     pad: float | None = None,
                     cell_w: int | None = None) -> DataFrame:
    """PBSM (partition-based spatial-merge) candidate pairs of two sided
    frames carrying ``{a,b}_{xmin,ymin,xmax,ymax}`` envelopes; every
    column of both sides survives. The cells are the lon/lat grid at
    ``res`` (None: ``_auto_res`` over both sides) or, with ``cell_w``,
    an integer grid of ``cell_w`` units per cell.

    1. A is widened (``_widen``) and, with ``pad``, its envelope grows
       by ``pad`` on every side;
    2. each side explodes its (padded) envelope's cell range and the
       sides equi-join on the cell — never a cartesian;
    3. prefilter in codegen: closed envelope overlap, or with ``pad``
       the separating-gap test
       GREATEST(0, gap_x)^2 + GREATEST(0, gap_y)^2 <= pad^2 (identical
       IEEE ops to the oracles' rectangle distance);
    4. REPORT-ONCE by the reference-point trick: a pair is kept only in
       the cell holding the lower-left corner of the (padded) envelope
       overlap, so no DISTINCT shuffle is needed (Patel & DeWitt 1996,
       the duplicate-avoidance technique of PBSM)."""
    if cell_w is not None:
        cw = F.lit(float(cell_w))

        def cell_x(c):
            return F.floor(c.cast("double") / cw)
        cell_y = cell_x
    else:
        if res is None:
            env = (a.select(*[F.col(f"a_{c}").alias(c) for c in _ENV])
                   .unionByName(b.select(*[F.col(f"b_{c}").alias(c)
                                           for c in _ENV])))
            res = _auto_res(env, pad or 0.0)
        cell_x, cell_y = _degree_cells(res)
    a_env, b_env = [f"a_{c}" for c in _ENV], [f"b_{c}" for c in _ENV]
    a = _widen(a)
    if pad is None:
        near = _overlaps(a_env, b_env)
    else:
        r = F.lit(pad)
        gap_x = F.greatest(F.lit(0.0), F.col("b_xmin") - F.col("a_xmax"),
                           F.col("a_xmin") - F.col("b_xmax"))
        gap_y = F.greatest(F.lit(0.0), F.col("b_ymin") - F.col("a_ymax"),
                           F.col("a_ymin") - F.col("b_ymax"))
        near = (gap_x * gap_x + gap_y * gap_y) <= (r * r)
        a = (a.withColumn("pad_xmin", F.col("a_xmin") - r)
             .withColumn("pad_ymin", F.col("a_ymin") - r)
             .withColumn("pad_xmax", F.col("a_xmax") + r)
             .withColumn("pad_ymax", F.col("a_ymax") + r))
        a_env = [f"pad_{c}" for c in _ENV]
    j = (_explode_envelope(a, a_env, cell_x, cell_y)
         .join(_explode_envelope(b, b_env, cell_x, cell_y), ["pix", "piy"]))
    # the overlap's lower-left corner lies in both sides' exploded
    # ranges whenever the envelopes overlap, so exactly one joined cell
    # claims the pair
    ref_cell = ((F.col("pix") == cell_x(F.greatest(a_env[0], b_env[0])))
                & (F.col("piy") == cell_y(F.greatest(a_env[1], b_env[1]))))
    return j.filter(near & ref_cell)


def _cached_wkt_parser():
    """Per-task WKT parse cache for the refine kernels: returns a
    ``g_of(wkt) -> Geometry | None`` closure. Failed parses are cached
    as False internally so a malformed WKT is attempted once, and
    callers uniformly see None for it."""
    cache: dict[str, object] = {}

    def g_of(wkt):
        g = cache.get(wkt)
        if g is None:
            g = geom.parse_wkt(wkt)
            cache[wkt] = g if g is not None else False
        return None if g is False else g

    return g_of


def _refine_pairs(cand: DataFrame, pred, radius_deg: float | None = None
                  ) -> DataFrame:
    """Exact refine of PBSM candidate pairs in one mapInPandas pass over
    (a_subject, a_geom_wkt, b_subject, b_geom_wkt). ``pred(ga, gb)`` is
    a boolean predicate -> (a_subject, b_subject); with ``radius_deg``
    it is a shape distance in degrees: pairs beyond the radius drop and
    the kept ones carry distance_m."""
    schema = "a_subject string, b_subject string"
    if radius_deg is not None:
        schema += ", distance_m double"

    def refine(batches):
        g_of = _cached_wkt_parser()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.fromiter(
                (pred(g_of(wa), g_of(wb))
                 for wa, wb in zip(pdf["a_geom_wkt"], pdf["b_geom_wkt"])),
                dtype=bool if radius_deg is None else np.float64,
                count=len(pdf))
            if radius_deg is None:
                yield pdf.loc[v, ["a_subject", "b_subject"]]
            else:
                keep = v <= radius_deg
                yield pdf.loc[keep, ["a_subject", "b_subject"]].assign(
                    distance_m=v[keep] * geom.METERS_PER_DEGREE)

    return (cand.select("a_subject", "a_geom_wkt", "b_subject", "b_geom_wkt")
            .mapInPandas(refine, schema))


def _refine_points_in_polygons(cand: DataFrame, schema: str) -> DataFrame:
    """Exact point-in-polygon refine of candidate rows carrying (px, py,
    geom_wkt) plus the ``schema`` output columns: per Arrow batch, rows
    group by polygon WKT, each WKT parses once per task, non-polygons
    drop, and one vectorized ray cast per polygon keeps the rows whose
    point lies inside (half-open [x0, x1) edges, geom.points_in_polygon)."""
    names = [f.split()[0] for f in schema.split(",")]

    def refine(batches):
        g_of = _cached_wkt_parser()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out: dict[str, list] = {c: [] for c in names}
            for wkt, grp in pdf.groupby("geom_wkt", sort=False):
                g = g_of(wkt)
                if g is None or g.kind not in ("POLYGON", "MULTIPOLYGON"):
                    continue
                hit = geom.points_in_polygon(
                    grp["px"].to_numpy(dtype=np.float64),
                    grp["py"].to_numpy(dtype=np.float64), g)
                for c in names:
                    out[c].extend(grp[c].to_numpy()[hit].tolist())
            yield pd.DataFrame(out)

    return cand.mapInPandas(refine, schema)


def radius_join(geo_a: DataFrame, geo_b: DataFrame, radius_m: float,
                res: int | None = None, width_guard_deg: float = 0.01,
                n_salts: int = 0, expand_side: str = "build") -> DataFrame:
    """J4 candidate search: all (a, b) pairs with centroid distance <=
    radius_m/111195 degrees. B candidates wider than ``width_guard_deg``
    are dropped first (F5 degenerate-geometry guard,
    FindLinkServlet.java:198).

    Plan shape: one side carries its single cell at ``res``; the other
    explodes a Chebyshev ring of cells covering the radius; equi-join on
    cell; exact distance refine. The Chebyshev ring is symmetric, so
    which side explodes is a pure physical choice:

    - ``expand_side=\"build\"`` (default): the **B/gazetteer side**
      explodes — right for the common dim-table pattern where B
      broadcasts. The ~9x row replication lands in the small broadcast
      hash table instead of materializing 9x probe rows (measured ~9x
      less CPU + memory traffic on the probe stage at sf0.1).
    - ``expand_side=\"probe\"``: A explodes — right when B is huge and
      A is the small/driving side.

    Duplicate hits are impossible either way: the non-exploded side has
    exactly one cell, and the exploded side covers each cell at most
    once. Optional salting shards hot cells across ``n_salts`` keys."""
    radius_deg = radius_m / geom.METERS_PER_DEGREE
    if res is None:
        res = cells.res_for_radius_deg(radius_deg)
    k = cells.ring_k_for_radius(radius_deg, res)

    a_cols = ["subject", "cx", "cy"]
    b_cols = ["subject", "cx", "cy", "xmin", "xmax", "geom_kind"]
    a = _sided(geo_a, "a", a_cols)
    b = _sided(geo_b, "b", b_cols)
    b = b.filter((F.col("b_xmax") - F.col("b_xmin")) < F.lit(width_guard_deg))

    a = cells.with_cell(a, res, lon="a_cx", lat="a_cy", prefix="a_")
    b = cells.with_cell(b, res, lon="b_cx", lat="b_cy", prefix="b_")
    if expand_side == "build":
        b = cells.explode_ring(b, res, k, ix="b_ix", iy="b_iy", out="probe_cell")
        join_a, join_b = F.col("a_cell"), F.col("probe_cell")
    else:
        a = cells.explode_ring(a, res, k, ix="a_ix", iy="a_iy", out="probe_cell")
        join_a, join_b = F.col("probe_cell"), F.col("b_cell")

    if n_salts > 1:
        a = a.withColumn("salt", F.pmod(F.xxhash64("a_subject"), F.lit(n_salts)).cast("int"))
        b = cells.explode_salts(b, n_salts)
        cond = (join_a == join_b) & (a.salt == b.salt)
    else:
        cond = join_a == join_b

    joined = a.join(b, cond, "inner")
    dist = DIST_DEG(F.col("a_cx"), F.col("a_cy"), F.col("b_cx"), F.col("b_cy"))
    out = (joined.withColumn("dist_deg", dist)
                 .filter(F.col("dist_deg") <= F.lit(radius_deg))
                 .withColumn("distance_m", F.col("dist_deg") * F.lit(geom.METERS_PER_DEGREE)))
    drop = ["probe_cell", "a_ix", "a_iy", "a_cell", "b_ix", "b_iy", "b_cell"]
    if n_salts > 1:
        drop.append("salt")
    return out.drop(*drop)


def knn_join(geo_a: DataFrame, geo_b: DataFrame, k_neighbors: int,
             radius_m: float, res: int | None = None) -> DataFrame:
    """kNN conflation matching: cell-ring expansion + exact distance
    re-rank, top-k per A entity (SURVEY.md §2.7 Spark mapping). Ties
    broken deterministically by (dist, b_subject)."""
    cand = radius_join(geo_a, geo_b, radius_m, res=res, width_guard_deg=1e9)
    w = Window.partitionBy("a_subject").orderBy(F.col("dist_deg").asc(),
                                                F.col("b_subject").asc())
    return (cand.withColumn("knn_rank", F.row_number().over(w))
                .filter(F.col("knn_rank") <= k_neighbors))


def bbox_join(geo: DataFrame, xmin: float, ymin: float, xmax: float, ymax: float,
              res: int = 10) -> DataFrame:
    """J5/F4 viewport fetch: cell-range prune then exact bbox test on the
    centroid columns — mirrors the st_xmax/st_ymax window predicate
    (BatchFindLinkServlet.java:395-417) without the MERC offsets (ours
    keeps plain degrees; the +180/+85.05 offsets exist only to keep
    Virtuoso values positive)."""
    ix0, ix1, iy0, iy1 = cells.bbox_cells_range(res, xmin, ymin, xmax, ymax)
    df = cells.with_cell(geo, res, lon="cx", lat="cy")
    return (df.filter((F.col("ix") >= ix0) & (F.col("ix") <= ix1)
                      & (F.col("iy") >= iy0) & (F.col("iy") <= iy1))
              .filter((F.col("cx") >= xmin) & (F.col("cx") <= xmax)
                      & (F.col("cy") >= ymin) & (F.col("cy") <= ymax))
              .drop("ix", "iy", "cell"))


RASTER_SCHEMA = "subject string, cell long"


def rasterize_polygons(polygons: DataFrame, res: int,
                       mode: str = "center") -> DataFrame:
    """Vector->raster coverage: one row per (polygon, cell) at ``res``
    — the raster half of the north star's raster<->vector tile
    assignment (the vector half is cells.with_cell / bbox_join).

    polygons: (subject, geom_wkt, xmin, ymin, xmax, ymax).

    ``mode="bbox"``: every cell whose extent intersects the polygon's
    envelope — pure JVM explode (the pip_refine replication shape); a
    coverage superset, right for partition layout / candidate pruning.
    ``mode="center"``: classic center-sample rasterization — the bbox
    candidates kept when the CELL CENTER lies inside the polygon
    (ray-cast kernel on candidates only; boundary semantics identical
    to pip_refine's half-open [x0, x1) point test)."""
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    polys = (_explode_envelope(polygons.select("subject", "geom_wkt", *_ENV),
                               _ENV, *_degree_cells(res))
             .withColumn("cell", cells.pack_cell(F.col("pix"), F.col("piy"), res)))
    if mode == "bbox":
        return polys.select("subject", "cell")
    # center sampling: center coords in JVM, bbox pre-filter, then one
    # Arrow pass ray-casting only surviving candidates
    cand = (polys
            .withColumn("px", F.lit(-180.0) + (F.col("pix") + F.lit(0.5)) * F.lit(w))
            .withColumn("py", F.lit(-90.0) + (F.col("piy") + F.lit(0.5)) * F.lit(h))
            .filter(_overlaps(("px", "py", "px", "py"), _ENV))
            .select("subject", "geom_wkt", "px", "py", "cell"))
    return _refine_points_in_polygons(cand, RASTER_SCHEMA)


def raster_iou(polys_a: DataFrame, polys_b: DataFrame, links: DataFrame,
               res: int = 13, mode: str = "center") -> DataFrame:
    """Degree-of-overlap score per linked pair: IoU of the two
    geometries' raster footprints at ``res`` — the distributable
    geometry-similarity feature for conflation suitability (the
    reference scores linked-pair geometry agreement for its fusion
    recommendations; an area IoU needs polygon clipping, the raster
    IoU needs only the existing rasterizer and two equi-joins, and
    converges to it as res grows).

    Plan shape: both polygon sides are LeftSemi-pruned to
    link-referenced subjects BEFORE rasterizing (the Python ray-cast
    is the expensive stage and Catalyst cannot defer a mapInPandas
    past the links join — the resolve_links LATE_FETCH rationale; at
    1% link coverage ~99% of the rasterization would otherwise be
    wasted); per-subject cell counts are one partial-agg groupBy each;
    the intersection count joins links -> A-cells on the subject then
    B-cells on (subject, cell) — both equi-joins. EVERY link row
    survives to the output: a side whose geometry rasterizes to no
    cell (sub-cell polygon missing every center, or a non-polygon
    subject) contributes n = 0 and the pair reports iou = 0.0 rather
    than vanishing (conflation consumers score all linked pairs).
    Output (node_a, node_b, n_a, n_b, n_inter, iou)."""
    ra = rasterize_polygons(
        polys_a.join(links.select(F.col("node_a").alias("subject"))
                     .distinct(), "subject", "leftsemi"), res, mode)
    rb = rasterize_polygons(
        polys_b.join(links.select(F.col("node_b").alias("subject"))
                     .distinct(), "subject", "leftsemi"), res, mode)
    na = ra.groupBy(F.col("subject").alias("node_a")) \
           .agg(F.count(F.lit(1)).alias("n_a"))
    nb = rb.groupBy(F.col("subject").alias("node_b")) \
           .agg(F.count(F.lit(1)).alias("n_b"))
    lr = (links.join(ra.withColumnRenamed("subject", "node_a"), "node_a")
          .select("node_a", "node_b", "cell"))
    inter = (lr.join(rb.withColumnRenamed("subject", "node_b"),
                     ["node_b", "cell"])
             .groupBy("node_a", "node_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    denom = (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
    out = (links.join(na, "node_a", "left").join(nb, "node_b", "left")
           .join(inter, ["node_a", "node_b"], "left")
           .withColumn("n_a", F.coalesce(F.col("n_a"), F.lit(0)))
           .withColumn("n_b", F.coalesce(F.col("n_b"), F.lit(0)))
           .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
           .withColumn("iou", F.when(
               denom > 0, F.col("n_inter").cast("double") / denom)
               .otherwise(F.lit(0.0))))
    return out.select("node_a", "node_b", "n_a", "n_b", "n_inter", "iou")


def intersects_join(geo_a: DataFrame, geo_b: DataFrame,
                    res: int | None = None, exact: bool = True) -> DataFrame:
    """General ST_Intersects spatial join: every (a_subject, b_subject)
    pair whose geometries intersect, boundary inclusive — the
    polygon<->polygon generalization of pip_refine (which fixes one
    side to points). The reference runs this class of predicate in
    PostGIS (GeoClusterer.java:326-354 ST_Intersects); here it is the
    classic PBSM plan: ``_pbsm_candidates`` at ``res`` (auto-chosen from
    BOTH sides' envelope size distribution so ~90% of geometries
    replicate to <=2x2 cells) yields each closed-envelope-overlap pair
    exactly once, all in JVM codegen, then exact
    ``geom.geoms_intersect`` refinement (vertex containment, proper
    crossings, boundary touches) runs on those candidates only.

    ``exact=False`` skips the refinement: the envelope-overlap candidate
    pairs (a coverage superset — right for tile layout and pruning).
    Works for any geometry kinds (a POINT's envelope is one cell);
    filter kinds upstream when only polygons are wanted."""
    cand = _pbsm_candidates(_sided(geo_a, "a", _GEO_COLS),
                            _sided(geo_b, "b", _GEO_COLS), res)
    if not exact:
        return cand.select("a_subject", "b_subject")
    return _refine_pairs(cand, geom.geoms_intersect)


def dwithin_join(geo_a: DataFrame, geo_b: DataFrame, radius_m: float,
                 res: int | None = None, exact: bool = True) -> DataFrame:
    """True ST_DWithin join over arbitrary geometries: (a, b) pairs
    whose SHAPES come within ``radius_m`` (minimum planar distance
    between boundaries/interiors, not centroid distance — radius_join
    is the centroid approximation; this is the exact predicate the
    reference delegates to PostGIS ST_DWithin). Same PBSM shape as
    intersects_join with the A-side envelope padded by the radius:
    ``_pbsm_candidates`` keeps each pair whose envelopes lie within
    the radius once (separating-gap prefilter, report-once on the
    padded-A/B overlap corner), then exact ``geom.min_distance``
    refinement runs on those candidates only (``exact=False`` returns
    the candidates).

    Output (a_subject, b_subject, distance_m); distance is the exact
    shape-to-shape minimum (0.0 for intersecting shapes)."""
    radius_deg = radius_m / geom.METERS_PER_DEGREE
    cand = _pbsm_candidates(_sided(geo_a, "a", _GEO_COLS),
                            _sided(geo_b, "b", _GEO_COLS), res, pad=radius_deg)
    if not exact:
        return cand.select("a_subject", "b_subject")
    return _refine_pairs(cand, geom.min_distance, radius_deg)


def knn_shape_join(geo_a: DataFrame, geo_b: DataFrame, k_neighbors: int,
                   max_radius_m: float, res: int | None = None) -> DataFrame:
    """k nearest B geometries per A geometry by TRUE shape distance
    (geom.min_distance), bounded by ``max_radius_m`` — the
    conflation-matching pattern of knn_join (radius search + re-rank)
    lifted from centroids to shapes: dwithin_join supplies the bounded
    candidate set, then one row_number window per A subject ordered by
    (distance_m, b_subject) keeps the top k. The window compiles to
    WindowGroupLimit, so only per-partition leaders reach the rank
    shuffle; the radius bound keeps the candidate volume linear in the
    data (a kNN with no radius would need unbounded ring expansion —
    callers widen the radius instead, the same contract knn_join
    documents). Ties in distance break deterministically on
    b_subject."""
    from pyspark.sql.window import Window
    cand = dwithin_join(geo_a, geo_b, max_radius_m, res=res)
    w = Window.partitionBy("a_subject").orderBy(
        F.asc("distance_m"), F.asc("b_subject"))
    return (cand.withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k_neighbors))


def unlinked_entities(geo: DataFrame, links: DataFrame,
                      side: str = "a") -> DataFrame:
    """FetchUnlinkedServlet semantics (FetchUnlinkedServlet.java:219-241):
    entities of one dataset that participate in NO link — the anti-join
    Spark gives for free (SURVEY.md §2.3 note). Compose with bbox_join
    for the servlet's viewport-restricted fetch."""
    key = "node_a" if side == "a" else "node_b"
    ref = links.select(F.col(key).alias("subject")).distinct()
    return geo.join(ref, "subject", "left_anti")


# ---------------------------------------------------------------------------
# Point-in-polygon refinement (J6) — per-cell STRtree analog.
# ---------------------------------------------------------------------------

PIP_SCHEMA = "point_subject string, poly_subject string"


def pip_auto_res(polygons: DataFrame, quantile: float = 0.9,
                 max_res: int = 16) -> int:
    """Pick the PIP grid resolution from the polygon size distribution:
    the finest resolution whose cell is at least as wide AND tall as
    the ``quantile`` envelope extent, so ~90% of polygons replicate to
    at most ~4 cells (2x2). One tiny two-double aggregate decides it —
    the stats-pass-then-choose pattern the skew machinery uses.
    Degenerate inputs (all points / empty) fall back to ``max_res``."""
    row = polygons.agg(
        F.expr(f"percentile(xmax - xmin, {quantile})").alias("w"),
        F.expr(f"percentile(ymax - ymin, {quantile})").alias("h")).first()
    w, h = row["w"], row["h"]
    if not w or not h or w <= 0 or h <= 0:
        return max_res
    for r in range(max_res, -1, -1):
        if cells.cell_width_deg(r) >= w and cells.cell_height_deg(r) >= h:
            return r
    return 0


def pip_refine(points: DataFrame, polygons: DataFrame,
               res: int | None = 10) -> DataFrame:
    """All (point, polygon) pairs where the polygon contains the point.

    points:   (subject, cx, cy)
    polygons: (subject, geom_wkt, xmin, ymin, xmax, ymax)

    Plan shape (the STRtree-refinement stage of the north star, done
    Spark-first): polygons explode over every cell their bbox covers
    (bounded by construction — pick ``res`` so typical polygons span
    O(1) cells); points carry one cell; the **cell equi-join + bbox
    range predicates run entirely in JVM codegen**, producing only the
    candidate pairs whose point lies inside the polygon's bbox. One
    ``mapInPandas`` then ray-casts just those candidates (vectorized
    per distinct polygon within each Arrow batch, with a parse cache).

    An earlier per-cell ``applyInPandas`` variant shipped all points +
    all polygons into Python and paid per-group Arrow overhead across
    thousands of tiny cell groups (~10x slower at sf0.1); candidates
    after the bbox filter are within a small factor of the true hits,
    so the Python stage is proportional to output size, not input size.

    No dedup needed: a point lives in exactly one cell and a polygon is
    replicated at most once per cell, so each pair joins exactly once.

    ``res=None`` auto-selects via ``pip_auto_res`` (stats pass over the
    polygon envelopes) so oversized polygons never explode across many
    cells."""
    if res is None:
        res = pip_auto_res(polygons)
    pts = points.select(F.col("subject").alias("pt_subject"),
                        F.col("cx").alias("px"), F.col("cy").alias("py"))
    # NOT _widen'd: measured neutral-to-negative here (sf0.1: 3.2s ->
    # 5.5s) — the candidate bbox filter is cheap codegen and the
    # Python stage is proportional to the small hit count, so the
    # extra shuffle never amortizes the way the dwithin/segment
    # refiners' heavy Arrow stages do
    pts = cells.with_cell(pts, res, lon="px", lat="py")
    polys = (_explode_envelope(
                 polygons.select(F.col("subject").alias("pg_subject"),
                                 "geom_wkt", *_ENV), _ENV, *_degree_cells(res))
             .withColumn("cell", cells.pack_cell(F.col("pix"), F.col("piy"), res))
             .select("pg_subject", "geom_wkt", *_ENV, "cell"))
    cand = (pts.select("pt_subject", "px", "py", "cell")
            .join(polys, "cell")
            .filter(_overlaps(("px", "py", "px", "py"), _ENV))
            .select(F.col("pt_subject").alias("point_subject"), "px", "py",
                    F.col("pg_subject").alias("poly_subject"), "geom_wkt"))
    return _refine_points_in_polygons(cand, PIP_SCHEMA)


def zonal_stats(points: DataFrame, polygons: DataFrame,
                value: str | None = None,
                res: int | None = 10) -> DataFrame:
    """Zonal statistics (the raster-toolbox staple): per-polygon
    aggregates of the points it contains — count, and when ``value``
    names a numeric point column, its exact sum/min/max. Polygons
    with no points are absent (left-join against the polygon table to
    keep them).

    Rides pip_refine unchanged (cell equi-join + JVM bbox prefilter +
    vectorized ray-cast on candidates only); the value columns come
    back via one equi-join on the point key, then a single map-side-
    combined groupBy per polygon. Keep ``value`` integer-typed for
    order-independent exact sums (the engine-wide integer-cents
    convention)."""
    pts = points.select("subject", "cx", "cy")
    pairs = pip_refine(pts, polygons, res=res)
    aggs = [F.count(F.lit(1)).alias("n_points")]
    if value is not None:
        joined = pairs.join(
            points.select(F.col("subject").alias("point_subject"),
                          F.col(value).alias("_v")), "point_subject")
        aggs += [F.sum("_v").alias(f"sum_{value}"),
                 F.min("_v").alias(f"min_{value}"),
                 F.max("_v").alias(f"max_{value}")]
    else:
        joined = pairs
    return joined.groupBy("poly_subject").agg(*aggs)


def dissolve_area(polygons: DataFrame, res: int, group_col: str = "group_id",
                  mode: str = "center") -> DataFrame:
    """Dissolve: per-group raster UNION of polygon footprints ->
    (group, n_cells, n_polys) — the GIS dissolve/union-area operation
    (admin-boundary merge, coverage-of-a-layer reporting) expressed in
    the engine's raster domain, where union is simply DISTINCT cells
    (FAGI's fusion actions operate per linked pair; dissolve is the
    layer-level aggregate the reference's OSM import sidesteps by
    leaning on PostGIS ST_Union — here it is a group-key rollup of
    ``rasterize_polygons`` output, reference VirtuosoImporter.java's
    polygon layer handling being the nearest analog).

    ``n_cells`` counts DISTINCT covered cells per group — overlapping
    polygons in one group are not double-counted, which is the entire
    semantic difference vs summing per-polygon areas. Exact integers
    at any scale; multiply by the cell area for a surface measure.

    Scale shape: one rasterize pass (JVM explode + Arrow ray-cast on
    candidates), one narrow (subject, group) equi-join, one
    partial-aggregated groupBy — no geometry ever crosses a shuffle,
    only (group, cell) longs. Overlap hot-spots fan out by cell before
    the distinct, so a group with millions of cells never concentrates
    on one task until the final count, which AQE handles."""
    ras = rasterize_polygons(
        polygons.select("subject", "geom_wkt", "xmin", "ymin", "xmax", "ymax"),
        res, mode=mode)
    grp = polygons.select("subject", group_col).distinct()
    return (ras.join(grp, "subject")
            .groupBy(group_col)
            .agg(F.countDistinct("cell").alias("n_cells"),
                 F.countDistinct("subject").alias("n_polys")))


def areal_weights(src: DataFrame, dst: DataFrame, res: int,
                  mode: str = "center") -> DataFrame:
    """Areal-interpolation weight matrix (Goodchild & Lam 1980): how a
    per-source-zone quantity splits across an INCOMPATIBLE target
    zoning — census tracts onto grid tiles, admin regions onto
    viewport cells (the zoning-mismatch problem every FAGI-style
    conflation of two polygon layers eventually hits; the PostGIS
    idiom is ST_Intersection area ratios, reference GeoClusterer.java's
    ST_Intersects coverage being the nearest analog).

    -> (src_subject, dst_subject, n_overlap, n_src, w): in the raster
    domain overlap area is a shared-cell COUNT, so the weight
    w = n_overlap / n_src is ONE IEEE division of exact BIGINTs —
    value-exact cross-engine (fagi_areal_weights).

    Scale shape: two rasterize passes (JVM explode + Arrow ray-cast on
    candidates), one cell equi-join (the PBSM shape — co-located
    zones meet only in shared cells, never an all-pairs zone join),
    two partial-aggregated integer rollups; only (subject, cell) longs
    cross a shuffle."""
    ras_s = rasterize_polygons(
        src.select("subject", "geom_wkt", "xmin", "ymin", "xmax", "ymax"),
        res, mode=mode)
    ras_d = rasterize_polygons(
        dst.select("subject", "geom_wkt", "xmin", "ymin", "xmax", "ymax"),
        res, mode=mode)
    tot = (ras_s.groupBy("subject")
           .agg(F.count(F.lit(1)).alias("n_src"))
           .select(F.col("subject").alias("src_subject"), "n_src"))
    ov = (ras_s.select(F.col("subject").alias("src_subject"), "cell")
          .join(ras_d.select(F.col("subject").alias("dst_subject"), "cell"),
                "cell")
          .groupBy("src_subject", "dst_subject")
          .agg(F.count(F.lit(1)).alias("n_overlap")))
    return (ov.join(tot, "src_subject")
            .select("src_subject", "dst_subject", "n_overlap", "n_src",
                    (F.col("n_overlap").cast("double")
                     / F.col("n_src").cast("double")).alias("w")))


def areal_interpolate(src: DataFrame, dst: DataFrame, value_col: str,
                      res: int, mode: str = "center") -> DataFrame:
    """Areal-weighted value transfer: est(d) = sum_s value_s * w(s, d)
    — population/count reallocation onto the target zoning. The float
    SUM's order is engine-internal, so this aggregate is pytest-pinned
    against a rational ground truth rather than oracle-compared; the
    weight matrix itself is the value-exact contract entry
    (fagi_areal_weights). Sources with no overlap contribute nowhere;
    targets with no overlap are absent (LEFT-join dst downstream if a
    0.0 row per empty target is needed)."""
    wts = areal_weights(src, dst, res, mode=mode)
    vals = src.select(F.col("subject").alias("src_subject"),
                      F.col(value_col).cast("double").alias("_v"))
    return (wts.join(vals, "src_subject")
            .groupBy("dst_subject")
            .agg(F.sum(F.col("_v") * F.col("w")).alias("est")))


def polygon_adjacency(polygons: DataFrame, res: int, ring: int = 1,
                      mode: str = "center") -> DataFrame:
    """Polygon adjacency/topology graph -> (a_subject, b_subject):
    pairs whose raster footprints at ``res`` come within Chebyshev
    distance ``ring`` cells of each other (``ring=0`` = footprints
    sharing a cell, i.e. overlap; ``ring=1`` = touching-or-overlapping
    — the admin-boundary neighbour graph ST_Touches builds in PostGIS,
    here in the engine's raster domain where it is one equi-join).

    Scale shape: rasterize once, DILATE ONE SIDE by the (2*ring+1)^2
    stencil (the density_surface explode — bounded by touched cells),
    then a single cell equi-join + distinct. Dilating one side is
    exactly symmetric adjacency (|dx|,|dy| <= ring is a symmetric
    predicate), and only (subject, cell) longs ever shuffle. The
    output feeds connected_components / pagerank directly — dissolve's
    group map can BE a component labelling of this graph."""
    ras = rasterize_polygons(
        polygons.select("subject", "geom_wkt", "xmin", "ymin", "xmax", "ymax"),
        res, mode=mode)
    axy = ras.select(F.col("subject").alias("a_subject"),
                     cells.unpack_ix(F.col("cell"), res).alias("ix"),
                     cells.unpack_iy(F.col("cell"), res).alias("iy"))
    dil = (cells.explode_ring(axy, res, ring, out="probe_cell")
           .select("a_subject", "probe_cell"))
    b = ras.select(F.col("subject").alias("b_subject"),
                   F.col("cell").alias("probe_cell"))
    return (dil.join(b, "probe_cell")
            .filter(F.col("a_subject") < F.col("b_subject"))
            .select("a_subject", "b_subject")
            .distinct())


def areal_interpolation(src_polys: DataFrame, dst_polys: DataFrame,
                        value_col: str, res: int,
                        mode: str = "center") -> DataFrame:
    """PAIR-level areal value transfer: ``areal_weights``'s
    Goodchild-Lam weight matrix with the source quantity attached —
    est_value = src_value * w per (src, dst) pair, each a single
    IEEE multiply on top of the weight's one division, so the
    TRANSFER itself is oracle-comparable where ``areal_interpolate``'s
    per-target SUM (engine-ordered float addition) cannot be. Use
    this when the audit wants to see where each source's mass went;
    use areal_interpolate for the rolled-up target estimate.

    Thin composition over areal_weights (same two rasterizations +
    PBSM cell equi-join; nothing new shuffles). Returns
    (src_subject, dst_subject, shared_cells, src_cells, src_value,
    est_value).
    """
    wts = areal_weights(
        src_polys.select("subject", "geom_wkt",
                         "xmin", "ymin", "xmax", "ymax"),
        dst_polys, res, mode=mode)
    vals = src_polys.select(F.col("subject").alias("src_subject"),
                            F.col(value_col).cast("long")
                            .alias("src_value"))
    return (wts.join(vals, "src_subject")
            .select("src_subject", "dst_subject",
                    F.col("n_overlap").cast("long").alias("shared_cells"),
                    F.col("n_src").cast("long").alias("src_cells"),
                    "src_value",
                    (F.col("src_value").cast("double") * F.col("w"))
                    .alias("est_value")))


def huff_probabilities(demand: DataFrame, sites: DataFrame,
                       site_key: str = "site_id",
                       attract: str = "attract",
                       demand_key: str = "cell",
                       dx: str = "x", dy: str = "y",
                       sx: str = "x", sy: str = "y") -> DataFrame:
    """Huff gravity catchment model (Huff 1964) at distance-decay
    beta = 2: the probability a demand point patronizes each site,
    p(i, j) = (A_j / d2_ij) / sum_k (A_k / d2_ik) — THE retail /
    facility catchment model, rational at beta=2 (1/d^2 needs no
    pow), so every probability is oracle-exact.

    The site table is a bounded gazetteer (stores, hospitals, POIs):
    it broadcasts, each demand row fans out by |sites| map-side, and
    the per-demand denominator folds the SITE-SORTED weight list with
    F.aggregate (the lang_mixture fold rule — order is part of the
    contract, mirrored by LIST_REDUCE(... ORDER BY site)). Demand
    points coincident with a site (d2 == 0) are excluded — they
    belong to that site trivially and 1/0 is not a weight (stated).

    Returns (demand_key, site_key, d2, w, p).
    """
    s = sites.select(F.col(site_key).alias("_s"),
                     F.col(attract).cast("long").alias("_a"),
                     F.col(sx).alias("_sx"), F.col(sy).alias("_sy"))
    d = demand.select(F.col(demand_key).alias("_d"),
                      F.col(dx).alias("_dx"), F.col(dy).alias("_dy"))
    ddx, ddy = F.col("_dx") - F.col("_sx"), F.col("_dy") - F.col("_sy")
    d2 = (ddx * ddx) + (ddy * ddy)
    pairs = (d.crossJoin(F.broadcast(s))
             .withColumn("_d2", d2)
             .filter(F.col("_d2") > 0)
             .withColumn("_w", F.col("_a").cast("double") / F.col("_d2")))
    denom = (pairs.groupBy("_d")
             .agg(F.aggregate(
                 F.array_sort(F.collect_list(F.struct("_s", "_w"))),
                 F.lit(0.0), lambda acc, x: acc + x["_w"]).alias("_den")))
    return (pairs.join(denom, "_d")
            .select(F.col("_d").alias(demand_key),
                    F.col("_s").alias(site_key),
                    F.col("_d2").alias("d2"), F.col("_w").alias("w"),
                    (F.col("_w") / F.col("_den")).alias("p")))


def _segments(segs: DataFrame, p: str) -> DataFrame:
    """Integer segments as ``p``-prefixed (subject, x1, y1, x2, y2) longs
    plus their envelope (xmin, ymin, xmax, ymax); zero-length segments
    drop."""
    df = (segs.select(F.col("subject").alias(f"{p}_subject"),
                      *[F.col(c).cast("long").alias(f"{p}_{c}")
                        for c in ("x1", "y1", "x2", "y2")])
          .filter((F.col(f"{p}_x1") != F.col(f"{p}_x2"))
                  | (F.col(f"{p}_y1") != F.col(f"{p}_y2"))))
    for c, pick, u, v in (("xmin", F.least, "x1", "x2"),
                          ("ymin", F.least, "y1", "y2"),
                          ("xmax", F.greatest, "x1", "x2"),
                          ("ymax", F.greatest, "y1", "y2")):
        df = df.withColumn(f"{p}_{c}", pick(f"{p}_{u}", f"{p}_{v}"))
    return df


def segment_intersections(segs_a: DataFrame, segs_b: DataFrame,
                          cell_w: int = 32) -> DataFrame:
    """Exact line-segment intersection join — road-network crossing
    detection (the segment-level primitive under the reference's
    PostGIS ST_Intersects class, GeoClusterer.java:326-354), done
    entirely in integer arithmetic so the whole predicate AND the
    intersection point are value-exact with no floats anywhere.

    Inputs carry one segment per row as integer-unit endpoints
    (subject, x1, y1, x2, y2) — the repo's 0.01-degree grid
    convention (contract._fmt2). Degenerate zero-length segments are
    filtered out (stated). Plan shape is PBSM like intersects_join,
    but the refinement is pure whole-stage codegen (no Python stage):

    1. ``_pbsm_candidates`` on a grid of ``cell_w`` units per cell:
       bbox cell-range explode, cell equi-join (never a cartesian),
       bbox-overlap prefilter, report-once by the overlap's lower-left
       corner cell;
    2. exact BIGINT orientation tests: non-collinear segments
       intersect iff d1*d2 <= 0 AND d3*d4 <= 0 (the zero-orientation
       edge cases are subsumed — a line meeting the other's carrier
       outside the segment forces the opposite product positive);
       collinear pairs (d1 = d2 = 0) intersect iff their projections
       onto the dominant axis overlap;
    3. classification: 'proper' (strict crossing), 'touch' (endpoint
       contact or collinear single-point), 'overlap' (collinear with
       positive shared length);
    4. for proper crossings the intersection point is emitted as
       exact rationals (ix_num/iden, iy_num/iden), den normalized
       positive — BIGINT-exact, so the oracle compares integers.

    Returns (a_subject, b_subject, itype, ix_num, iy_num, iden) with
    NULL rationals for non-proper contacts.
    """
    cand = _pbsm_candidates(_segments(segs_a, "a"), _segments(segs_b, "b"),
                            cell_w=cell_w)

    rx, ry = F.col("a_x2") - F.col("a_x1"), F.col("a_y2") - F.col("a_y1")
    sx, sy = F.col("b_x2") - F.col("b_x1"), F.col("b_y2") - F.col("b_y1")

    def cross(ux, uy, vx, vy):
        return ux * vy - uy * vx

    d1 = cross(rx, ry, F.col("b_x1") - F.col("a_x1"),
               F.col("b_y1") - F.col("a_y1"))
    d2 = cross(rx, ry, F.col("b_x2") - F.col("a_x1"),
               F.col("b_y2") - F.col("a_y1"))
    d3 = cross(sx, sy, F.col("a_x1") - F.col("b_x1"),
               F.col("a_y1") - F.col("b_y1"))
    d4 = cross(sx, sy, F.col("a_x2") - F.col("b_x1"),
               F.col("a_y2") - F.col("b_y1"))
    cand = (cand.withColumn("_d1", d1).withColumn("_d2", d2)
                .withColumn("_d3", d3).withColumn("_d4", d4))

    collinear = (F.col("_d1") == 0) & (F.col("_d2") == 0)
    # dominant-axis projection overlap for the collinear case
    use_x = F.abs(rx) >= F.abs(ry)
    a_lo = F.when(use_x, F.col("a_xmin")).otherwise(F.col("a_ymin"))
    a_hi = F.when(use_x, F.col("a_xmax")).otherwise(F.col("a_ymax"))
    b_lo = F.when(use_x, F.col("b_xmin")).otherwise(F.col("b_ymin"))
    b_hi = F.when(use_x, F.col("b_xmax")).otherwise(F.col("b_ymax"))
    lo, hi = F.greatest(a_lo, b_lo), F.least(a_hi, b_hi)

    cross_hit = ((F.col("_d1") * F.col("_d2") <= 0)
                 & (F.col("_d3") * F.col("_d4") <= 0))
    proper = ((F.col("_d1") * F.col("_d2") < 0)
              & (F.col("_d3") * F.col("_d4") < 0))
    itype = (F.when(collinear,
                    F.when(lo < hi, F.lit("overlap"))
                     .when(lo == hi, F.lit("touch")))
              .otherwise(F.when(proper, F.lit("proper"))
                          .when(cross_hit, F.lit("touch"))))
    hit = cand.withColumn("itype", itype).filter(F.col("itype").isNotNull())

    den = cross(rx, ry, sx, sy)
    t_num = cross(F.col("b_x1") - F.col("a_x1"),
                  F.col("b_y1") - F.col("a_y1"), sx, sy)
    # P = p1 + (t_num/den) * r, normalized so den > 0
    sgn = F.when(den < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    is_prop = F.col("itype") == "proper"
    return hit.select(
        "a_subject", "b_subject", "itype",
        F.when(is_prop, sgn * (F.col("a_x1") * den + t_num * rx))
         .alias("ix_num"),
        F.when(is_prop, sgn * (F.col("a_y1") * den + t_num * ry))
         .alias("iy_num"),
        F.when(is_prop, sgn * den).alias("iden"))


def segment_clip_boxes(segs: DataFrame, boxes: DataFrame,
                       cell_w: int = 32,
                       max_span: int | None = None) -> DataFrame:
    """Exact segment↔box overlay clip: for every (segment, box)
    candidate pair, the parameter interval of the segment inside the
    axis-aligned box — Liang-Barsky clipping done entirely in BIGINT
    by normalizing all slab intersections to ONE common denominator
    Q = |dx|·|dy| (axis-degenerate directions contribute 1), so
    entry/exit become integer max/min with no rational comparisons,
    no floats, and a value-exact oracle. This is the overlay-analysis
    primitive behind "how much road length falls in this
    tile/zone" (the vector↔raster companion of zonal_stats, which
    aggregates points).

    Inputs: ``segs`` (subject, x1, y1, x2, y2) integer units;
    ``boxes`` (subject, xmin, ymin, xmax, ymax). PBSM plan like
    segment_intersections: cell-range explode on both sides,
    equi-join, report-once by the overlap corner, then the codegen
    clip. Degenerate zero-length segments drop (stated).

    Returns (a_subject, b_subject, t0_num, t1_num, t_den,
    len2_num, len2_den, frac) where [t0_num/t_den, t1_num/t_den] is
    the clipped parameter interval (t0 <= t1; equality = a touch),
    len2_* the exact squared clipped length, and ``frac`` the single
    float division (t1_num - t0_num) / t_den.

    BIGINT bound: ``len2_num = (t1-t0)^2 * (dx^2+dy^2)`` with t-values
    scaled by q = |dx|·|dy| grows as ~2·L^6 for a segment spanning L
    grid units per axis, overflowing int64 past L ≈ 1287 (~12.8
    degrees on the 0.01-degree grid) — unlike the d1·d2 products in
    segment_intersections, which fit the full coordinate range. An
    oracle overflows identically, so the contract cannot catch it:
    pass ``max_span`` to drop longer segments explicitly (mirror the
    same filter in any oracle), or treat ``frac`` (float) as the only
    trustworthy length field beyond that span.
    """
    a = _segments(segs, "a")
    if max_span is not None:
        a = a.filter(
            (F.abs(F.col("a_x2") - F.col("a_x1")) <= max_span)
            & (F.abs(F.col("a_y2") - F.col("a_y1")) <= max_span))
    b = boxes.select(F.col("subject").alias("b_subject"),
                     *[F.col(c).cast("long").alias(f"b_{c}") for c in _ENV])
    cand = _pbsm_candidates(a, b, cell_w=cell_w)

    dx = F.col("a_x2") - F.col("a_x1")
    dy = F.col("a_y2") - F.col("a_y1")
    qx = F.when(dx == 0, F.lit(1)).otherwise(F.abs(dx))
    qy = F.when(dy == 0, F.lit(1)).otherwise(F.abs(dy))
    q = qx * qy
    sdx = F.when(dx < 0, F.lit(-1)).otherwise(F.lit(1))
    sdy = F.when(dy < 0, F.lit(-1)).otherwise(F.lit(1))
    # slab intersections over the common denominator q: for a live
    # axis t = (bound - start)/d = (bound - start)*sgn(d)/|d|, scaled
    # by the OTHER axis' q; least/greatest absorbs the d<0 swap.
    # A degenerate axis (d == 0) contributes the full [0, q] slab but
    # only when the fixed coordinate lies inside the box (the guard).
    x_c1 = (F.col("b_xmin") - F.col("a_x1")) * sdx * qy
    x_c2 = (F.col("b_xmax") - F.col("a_x1")) * sdx * qy
    y_c1 = (F.col("b_ymin") - F.col("a_y1")) * sdy * qx
    y_c2 = (F.col("b_ymax") - F.col("a_y1")) * sdy * qx
    x_lo = F.when(dx == 0, F.lit(0)).otherwise(F.least(x_c1, x_c2))
    x_hi = F.when(dx == 0, q).otherwise(F.greatest(x_c1, x_c2))
    y_lo = F.when(dy == 0, F.lit(0)).otherwise(F.least(y_c1, y_c2))
    y_hi = F.when(dy == 0, q).otherwise(F.greatest(y_c1, y_c2))
    live = (((dx != 0) | ((F.col("b_xmin") <= F.col("a_x1"))
                          & (F.col("a_x1") <= F.col("b_xmax"))))
            & ((dy != 0) | ((F.col("b_ymin") <= F.col("a_y1"))
                            & (F.col("a_y1") <= F.col("b_ymax")))))
    t0 = F.greatest(x_lo, y_lo, F.lit(0))
    t1 = F.least(x_hi, y_hi, q)
    d2 = dx * dx + dy * dy
    return (cand.filter(live).withColumn("_t0", t0).withColumn("_t1", t1)
            .filter(F.col("_t0") <= F.col("_t1"))
            .select("a_subject", "b_subject",
                    F.col("_t0").alias("t0_num"),
                    F.col("_t1").alias("t1_num"),
                    q.alias("t_den"),
                    ((F.col("_t1") - F.col("_t0"))
                     * (F.col("_t1") - F.col("_t0")) * d2).alias("len2_num"),
                    (q * q).alias("len2_den"),
                    ((F.col("_t1") - F.col("_t0")).cast("double")
                     / q.cast("double")).alias("frac")))
