"""Cell grid: packing, ring expansion, bbox ranges, skew tools."""

import pytest
from pyspark.sql import functions as F

from fagi_spark import cells


def test_cell_width_and_res_choice():
    assert cells.cell_width_deg(13) == pytest.approx(360.0 / 8192)
    assert cells.cell_height_deg(13) == pytest.approx(180.0 / 8192)
    # finest res whose cell *height* still covers the radius
    r = cells.res_for_radius_deg(0.05)
    assert cells.cell_height_deg(r) >= 0.05 > cells.cell_height_deg(r + 1)
    kx, ky = cells.ring_k_for_radius(0.05, r)
    assert kx == 1 and ky == 1


def test_cell_assignment_and_bounds(spark):
    df = spark.createDataFrame(
        [(0, -180.0, -90.0), (1, 179.999, 89.999), (2, 0.0, 0.0), (3, 180.0, 90.0)],
        "id int, lon double, lat double")
    out = cells.with_cell(df, 4).collect()
    byid = {r.id: r for r in out}
    assert (byid[0].ix, byid[0].iy) == (0, 0)
    assert (byid[1].ix, byid[1].iy) == (15, 15)
    assert (byid[2].ix, byid[2].iy) == (8, 8)
    # boundary value clamps into range instead of overflowing
    assert (byid[3].ix, byid[3].iy) == (15, 15)
    # packed ids are distinct per (ix, iy) and tagged with res
    assert len({r.cell for r in out}) == 3
    assert all(r.cell >> 58 == 4 for r in out)


def test_explode_ring_counts(spark):
    df = cells.with_cell(spark.createDataFrame([(0.0, 0.0)], "lon double, lat double"), 6)
    ring = cells.explode_ring(df, 6, 1)
    assert ring.count() == 9  # (2k+1)^2 interior
    edge = cells.with_cell(spark.createDataFrame([(-180.0, -90.0)], "lon double, lat double"), 6)
    assert cells.explode_ring(edge, 6, 1).count() == 4  # clipped at corner


def test_bbox_cells_range():
    ix0, ix1, iy0, iy1 = cells.bbox_cells_range(4, -10.0, -10.0, 10.0, 10.0)
    assert ix0 <= ix1 and iy0 <= iy1
    assert ix0 == 7 and ix1 == 8  # straddles the antimeridian center


def test_sql_cell_matches_spark(spark):
    import duckdb
    pts = [(-71.0571, 42.3601), (12.5, 41.9), (0.0001, -0.0001), (139.69, 35.68)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = sorted(r.cell for r in df.select(
        cells.cell_col(F.col("lon"), F.col("lat"), 10).alias("cell")).collect())
    want = sorted(r[0] for r in duckdb.sql(
        "SELECT " + cells.sql_cell("lon", "lat", 10) + " AS cell FROM (VALUES "
        + ",".join(f"({x},{y})" for x, y in pts) + ") t(lon, lat)").fetchall())
    assert got == want


def test_hot_cells_and_promotion(spark):
    rows = [(f"s{i}", 10.001 + (i % 3) * 1e-4, 10.001) for i in range(50)]
    rows += [(f"t{i}", -50.0 + i, -20.0) for i in range(5)]
    df = cells.with_cell(spark.createDataFrame(rows, "subject string, lon double, lat double"), 7)
    hot = cells.hot_cells(df, threshold=10)
    assert hot.count() == 1
    promoted = cells.promote_hot_cells(df, hot, fine_res=14)
    # hot-cell rows moved to res-14 ids; cold rows untouched
    res_tags = {r.cell >> 58 for r in promoted.collect()}
    assert res_tags == {7, 14}
    assert promoted.count() == df.count()


def test_salting_preserves_pairs(spark):
    big = spark.createDataFrame([(f"a{i}", i % 4) for i in range(100)], "subject string, cell int")
    small = spark.createDataFrame([(f"b{j}", j) for j in range(4)], "bsub string, cell int")
    plain = big.join(small, "cell").count()
    bs = cells.with_salt(big, 8, key="subject")
    ss = cells.explode_salts(small, 8)
    salted = bs.join(ss, ["cell", "salt"]).count()
    assert salted == plain


def test_rasterize_center_subset_of_bbox(spark):
    """Center-sample rasterization of a triangle keeps strictly fewer
    cells than the bbox cover (cells whose center falls outside the
    hypotenuse are dropped), and every kept cell center is inside."""
    from pyspark.sql import functions as F

    from fagi_spark import fuse, joins

    tri = spark.createDataFrame(
        [("t1", "POLYGON ((0 0, 40 0, 0 40, 0 0))")],
        "subject string, geom_wkt string")
    polys = fuse.prepare_geoms(tri)
    res = 7  # ~2.8 deg cells -> the 40-deg triangle spans ~15x29 cells
    bbox = {r["cell"] for r in
            joins.rasterize_polygons(polys, res, mode="bbox").collect()}
    center = {r["cell"] for r in
              joins.rasterize_polygons(polys, res, mode="center").collect()}
    assert center and center < bbox  # strict subset: hypotenuse cut
    # spot-check: center of every kept cell satisfies x + y < 40
    from fagi_spark import cells as c
    w, h = c.cell_width_deg(res), c.cell_height_deg(res)
    for cell in center:
        ix = (cell - (res << 58)) // (1 << res)
        iy = (cell - (res << 58)) % (1 << res)
        cx = -180.0 + (ix + 0.5) * w
        cy = -90.0 + (iy + 0.5) * h
        assert cx + cy < 40.0 and cx >= 0.0 and cy >= 0.0


def test_unpack_exact_at_max_res(spark):
    """pack -> unpack roundtrip must be exact at res 28 (ADVICE: the old
    float-division decode silently lost bits past 2^53, i.e. res > 26)."""
    res = cells.MAX_RES
    n = 1 << res
    probe = [(0, 0), (n - 1, n - 1), (n - 1, 0), (123456789, 987654),
             ((1 << 27) + 3, (1 << 26) + 1)]
    df = spark.createDataFrame(probe, "ix long, iy long")
    packed = df.select("ix", "iy",
                       cells.pack_cell(F.col("ix"), F.col("iy"), res).alias("cell"))
    back = packed.select(
        "ix", "iy",
        cells.unpack_ix(F.col("cell"), res).alias("ix2"),
        cells.unpack_iy(F.col("cell"), res).alias("iy2"))
    for r in back.collect():
        assert (r["ix2"], r["iy2"]) == (r["ix"], r["iy"])


def test_tile_pyramid_invariants(spark):
    import random
    rng = random.Random(7)
    pts = [(rng.uniform(-179, 179), rng.uniform(-89, 89)) for _ in range(400)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    pyr = cells.tile_pyramid(df, base_res=13, levels=(10, 7)).collect()
    by_res = {}
    for r in pyr:
        by_res.setdefault(r.res, {})[r.cell] = r.n_points
    # every level accounts for every input point
    assert set(by_res) == {13, 10, 7}
    for res, cellmap in by_res.items():
        assert sum(cellmap.values()) == len(pts)
        assert all(c >> 58 == res for c in cellmap)
    # parent count == sum of its children (exact integer-shift lineage)
    for child_res, parent_res in [(13, 10), (10, 7)]:
        d = child_res - parent_res
        rolled = {}
        for c, n in by_res[child_res].items():
            ix = (c - (child_res << 58)) >> child_res
            iy = (c - (child_res << 58)) % (1 << child_res)
            pc = (parent_res << 58) | ((ix >> d) << parent_res) | (iy >> d)
            rolled[pc] = rolled.get(pc, 0) + n
        assert rolled == by_res[parent_res]


def test_tile_pyramid_rejects_bad_levels():
    with pytest.raises(ValueError):
        cells.tile_pyramid(None, base_res=10, levels=(13,))
    with pytest.raises(ValueError):
        cells.tile_pyramid(None, base_res=13, levels=(10, 10))


def test_read_entities_viewport_prunes_partitions(spark, tmp_path):
    import random
    from fagi_spark import io as fio
    rng = random.Random(3)
    rows = [(f"u{i}", rng.uniform(-179.0, 179.0), rng.uniform(-89.0, 89.0))
            for i in range(300)]
    df = (spark.createDataFrame(rows, "url string, lon double, lat double")
          .withColumn("cell_r7", cells.cell_col(F.col("lon"), F.col("lat"), 7)))
    out = str(tmp_path / "ents")
    df.write.mode("overwrite").partitionBy("cell_r7").parquet(out)

    got = fio.read_entities_viewport(spark, out, -10.0, -10.0, 10.0, 10.0, res=7)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the bbox must reach the scan as a partition-directory filter
    seg = plan.split("PartitionFilters: [", 1)
    assert len(seg) == 2 and "cell_r7" in seg[1][:300]

    # default (prune-then-refine) read == exact bbox rows
    in_bbox = {u for u, lon, lat in rows
               if -10.0 <= lon <= 10.0 and -10.0 <= lat <= 10.0}
    assert {r.url for r in got.collect()} == in_bbox

    # refine=None returns the raw cell superset (covers the bbox)
    raw = fio.read_entities_viewport(spark, out, -10.0, -10.0, 10.0, 10.0,
                                     res=7, refine=None)
    ix0, ix1, iy0, iy1 = cells.bbox_cells_range(7, -10.0, -10.0, 10.0, 10.0)
    wanted = {cells.pack_cell_value(ix, iy, 7)
              for ix in range(ix0, ix1 + 1) for iy in range(iy0, iy1 + 1)}
    bycell = {r.url: r.cell_r7 for r in df.select("url", "cell_r7").collect()}
    expect = {u for u, c in bycell.items() if c in wanted}
    assert {r.url for r in raw.collect()} == expect
    assert in_bbox <= expect

    with pytest.raises(ValueError):
        fio.read_entities_viewport(spark, out, -180, -90, 180, 90, res=7,
                                   max_cells=4)


def test_tile_counts_update_matches_full_rebuild(spark):
    """Incremental tile maintenance from a changelog == full rollup."""
    from fagi_spark import cells
    from pyspark.sql import functions as F

    def pts(ids):
        return spark.createDataFrame(
            [(i, (i * 37 % 340) / 10.0 - 17.0, (i * 53 % 160) / 10.0 - 8.0)
             for i in ids], "id long, lon double, lat double")

    v1 = pts(range(200))
    v2 = pts(list(range(50, 200)) + list(range(300, 380)))  # -50, +80

    def rollup(df):
        return (df.groupBy(cells.cell_col(F.col("lon"), F.col("lat"), 5)
                           .alias("tile"))
                .agg(F.count(F.lit(1)).alias("n_entities")))

    added = v2.exceptAll(v1)
    removed = v1.exceptAll(v2)
    inc = cells.tile_counts_update(rollup(v1), added, removed, res=5)
    full = rollup(v2)
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


def test_quadkey_prefix_property_and_roundtrip(spark):
    """quadkey: parent prefix property at every level, digit alphabet,
    and (ix, iy) recoverable from the digits."""
    from fagi_spark import cells
    from pyspark.sql import functions as F
    rows = [(i, (i * 37) % (1 << 10), (i * 53) % (1 << 9)) for i in range(50)]
    df = spark.createDataFrame(rows, "i long, ix long, iy long")
    out = df.select(
        "ix", "iy",
        cells.quadkey_col(F.col("ix"), F.col("iy"), 10).alias("qk"),
        cells.tile_id_col(F.col("ix"), F.col("iy"), 10).alias("tid"),
        *[cells.quadkey_col(F.shiftright("ix", 10 - d),
                            F.shiftright("iy", 10 - d), d).alias(f"p{d}")
          for d in (3, 7)]).collect()
    for r in out:
        assert len(r.qk) == 10 and set(r.qk) <= set("0123")
        assert r.p3 == r.qk[:3] and r.p7 == r.qk[:7]
        assert r.tid == f"10/{r.ix}/{r.iy}"
        ix = iy = 0
        for ch in r.qk:
            d = int(ch)
            ix = ix * 2 + (d & 1)
            iy = iy * 2 + (d >> 1)
        assert (ix, iy) == (r.ix, r.iy)


def test_geohash_published_vectors_and_prefix(spark):
    """geohash: bit layout pinned by the published examples
    (en.wikipedia.org/wiki/Geohash: (57.64911, 10.40744) -> u4pruy...,
    (42.6, -5.6) -> ezs4...), Spark column == Python twin, and the
    parent-prefix property at 6 -> 4 chars (res 15 -> 10)."""
    from fagi_spark import cells
    from pyspark.sql import functions as F
    assert cells.geohash_value(10.40744, 57.64911, 15) == "u4pruy"
    assert cells.geohash_value(-5.6, 42.6, 10) == "ezs4"
    rows = [(float(lon), float(lat))
            for lon in (-179.9, -5.6, 0.0, 10.40744, 179.9)
            for lat in (-89.9, -0.1, 42.6, 57.64911, 89.9)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    ix15, iy15 = cells.ix_col(F.col("lon"), 15), cells.iy_col(F.col("lat"), 15)
    out = df.select(
        "lon", "lat",
        cells.geohash_col(ix15, iy15, 15).alias("g6"),
        cells.geohash_col(F.shiftright(ix15, 5), F.shiftright(iy15, 5), 10)
        .alias("p4")).collect()
    for r in out:
        assert r.g6 == cells.geohash_value(r.lon, r.lat, 15)
        assert r.p4 == r.g6[:4]
        assert set(r.g6) <= set(cells.GEOHASH_ALPHABET)
    with pytest.raises(ValueError):
        cells.geohash_col(F.lit(0), F.lit(0), 8)  # 16 bits not /5


def test_density_surface_stencil_ground_truth(spark):
    """density_surface == hand-computed 3x3 binomial convolution on a
    tiny planted grid, including world-edge truncation (cell (0, 0))."""
    from fagi_spark import cells
    res = 5
    w = cells.cell_width_deg(res)
    h = cells.cell_height_deg(res)

    def pt(ix, iy):
        return (-180.0 + (ix + 0.5) * w, -90.0 + (iy + 0.5) * h)

    # 3 points in (4,4), 1 in (5,4), 2 in (0,0) (corner: taps truncate)
    pts = [pt(4, 4)] * 3 + [pt(5, 4)] + [pt(0, 0)] * 2
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = {(r.ix, r.iy): r.density16
           for r in cells.density_surface(df, res).collect()}
    counts = {(4, 4): 3, (5, 4): 1, (0, 0): 2}
    ker = {(-1, -1): 1, (-1, 0): 2, (-1, 1): 1, (0, -1): 2, (0, 0): 4,
           (0, 1): 2, (1, -1): 1, (1, 0): 2, (1, 1): 1}
    want = {}
    n = 1 << res
    for (ix, iy), c in counts.items():
        for (dx, dy), kw in ker.items():
            tx, ty = ix + dx, iy + dy
            if 0 <= tx < n and 0 <= ty < n:
                want[(tx, ty)] = want.get((tx, ty), 0) + c * kw
    assert got == want
    assert got[(0, 0)] == 8          # corner keeps only its own 4/16 tap x2
    assert got[(4, 4)] == 3 * 4 + 1 * 2
    # mass conservation: interior points keep full 16x mass, the corner
    # keeps only its in-bounds taps (4+2+2+1 = 9 sixteenths per point)
    assert sum(want.values()) == 16 * 3 + 16 * 1 + 9 * 2


def test_hotspots_hand_computed(spark):
    """A 5-point pile next to two singles, far from one lone point:
    hand-check x, wx, wi and the Gi* sign structure."""
    from fagi_spark import cells

    res = 6
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    lon0, lat0 = 10.0 + w / 2, 20.0 + h / 2
    rows = ([(lon0, lat0)] * 5
            + [(lon0 + w, lat0)] + [(lon0 + 2 * w, lat0)]
            + [(lon0 + 25 * w, lat0 - 20 * h)])
    pts = spark.createDataFrame(rows, "lon double, lat double")
    out = {(r.ix, r.iy): r for r in cells.hotspots(pts, res).collect()}
    assert len(out) == 4
    ix0 = int((10.0 + w / 2 + 180.0) / 360.0 * (1 << res))
    iy0 = int((20.0 + h / 2 + 90.0) / 180.0 * (1 << res))
    pile = out[(ix0, iy0)]
    assert pile.x == 5 and pile.wx == 6 and pile.wi == 9  # pile + neighbor
    lone = [r for (ix, iy), r in out.items() if r.x == 1 and r.wx == 1][0]
    # interior cells all have the full 3x3 window
    assert all(r.wi == 9 for r in out.values())
    # n=4 occupied cells but a 9-cell window: n*wi - wi^2 = 36-81 < 0,
    # the variance term under the sqrt goes negative -> NaN. The
    # degenerate-universe case must yield NaN/None consistently (both
    # engines share the expression tree), not crash.
    import math
    assert pile.gi_star is None or math.isnan(pile.gi_star)


def test_hotspots_rich_field_sign_and_exactness(spark):
    """On a larger synthetic field (n >> 9): Gi* is positive where the
    neighborhood sum beats wi*xbar, negative below, and matches a
    NumPy recomputation bit-for-bit."""
    import math

    from fagi_spark import cells

    pts = spark.range(2000).select(
        ((F.col("id") * 37 % 1700) / 10.0 - 80.0).alias("lon"),
        ((F.col("id") * 53 % 800) / 10.0).alias("lat"))
    rows = cells.hotspots(pts, 6).collect()
    n = len(rows)
    s1 = sum(r.x for r in rows)
    s2 = sum(r.x * r.x for r in rows)
    xbar = s1 / n
    s = math.sqrt(s2 / n - xbar * xbar)
    signs = 0
    for r in rows:
        den = s * math.sqrt((n * r.wi - r.wi * r.wi) / (n - 1.0))
        expect = (r.wx - r.wi * xbar) / den
        assert r.gi_star == expect  # bit-exact, same IEEE tree
        signs |= 1 if expect > 0 else 2
    assert signs == 3  # both hot and cold cells exist


def test_morans_i_clustered_vs_checkerboard(spark):
    """Clustered mass gives I > 0; a checkerboard (high/low
    alternating) gives I < 0; values match a NumPy recomputation
    bit-for-bit via the same integer scalars."""
    import math

    from fagi_spark import cells

    res = 6
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    lon0, lat0 = 10.0 + w / 2, 20.0 + h / 2

    def field(counts_grid):
        rows = []
        for (i, j), c in counts_grid.items():
            rows += [(lon0 + i * w, lat0 + j * h)] * c
        return spark.createDataFrame(rows, "lon double, lat double")

    # clustered: a 3x3 block of 9s next to a 3x3 block of 1s
    clustered = {(i, j): (9 if i < 3 else 1)
                 for i in range(6) for j in range(3)}
    r1 = cells.morans_i(field(clustered), res).collect()[0]
    assert r1.morans_i is not None and r1.morans_i > 0
    # checkerboard: 9/1 alternating
    checker = {(i, j): (9 if (i + j) % 2 == 0 else 1)
               for i in range(6) for j in range(3)}
    r2 = cells.morans_i(field(checker), res).collect()[0]
    assert r2.morans_i is not None and r2.morans_i < 0
    # bit-exact recompute for the checkerboard
    cellsxy = {(i, j): c for (i, j), c in checker.items()}
    n = len(cellsxy)
    s1 = sum(cellsxy.values())
    s2 = sum(v * v for v in cellsxy.values())
    wp = num = tsum = 0
    for (i, j), xi in cellsxy.items():
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                if (di, dj) != (0, 0) and (i + di, j + dj) in cellsxy:
                    xj = cellsxy[(i + di, j + dj)]
                    wp += 1
                    num += xi * xj
                    tsum += xi + xj
    xbar = s1 / n
    cross = num - xbar * tsum + xbar * xbar * wp
    var = s2 - 2.0 * xbar * s1 + n * xbar * xbar
    assert r2.n_cells == n and r2.w_pairs == wp
    assert r2.morans_i == (n / wp) * (cross / var)
    # constant field -> zero variance -> NULL guard
    const = {(i, j): 5 for i in range(3) for j in range(2)}
    r3 = cells.morans_i(field(const), res).collect()[0]
    assert r3.morans_i is None or math.isnan(r3.morans_i)


def test_geary_c_clustered_vs_checkerboard(spark):
    """Clustered mass gives C < 1 (similar neighbors), a checkerboard
    gives C > 1 (dissimilar neighbors); the checkerboard value matches
    a Python recomputation bit-for-bit via the same integer scalars;
    constant field hits the NULL variance guard."""
    import math

    from fagi_spark import cells

    res = 6
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    lon0, lat0 = 10.0 + w / 2, 20.0 + h / 2

    def field(counts_grid):
        rows = []
        for (i, j), c in counts_grid.items():
            rows += [(lon0 + i * w, lat0 + j * h)] * c
        return spark.createDataFrame(rows, "lon double, lat double")

    clustered = {(i, j): (9 if i < 3 else 1)
                 for i in range(6) for j in range(3)}
    r1 = cells.geary_c(field(clustered), res).collect()[0]
    assert r1.geary_c is not None and r1.geary_c < 1.0
    checker = {(i, j): (9 if (i + j) % 2 == 0 else 1)
               for i in range(6) for j in range(3)}
    r2 = cells.geary_c(field(checker), res).collect()[0]
    assert r2.geary_c is not None and r2.geary_c > 1.0
    # bit-exact recompute for the checkerboard
    n = len(checker)
    s1 = sum(checker.values())
    s2 = sum(v * v for v in checker.values())
    wp = dsum = 0
    for (i, j), xi in checker.items():
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                if (di, dj) != (0, 0) and (i + di, j + dj) in checker:
                    xj = checker[(i + di, j + dj)]
                    wp += 1
                    dsum += (xi - xj) * (xi - xj)
    xbar = s1 / n
    var = s2 - 2.0 * xbar * s1 + n * xbar * xbar
    assert r2.n_cells == n and r2.w_pairs == wp
    assert r2.geary_c == ((n - 1.0) / (2.0 * wp)) * (dsum / var)
    const = {(i, j): 5 for i in range(3) for j in range(2)}
    r3 = cells.geary_c(field(const), res).collect()[0]
    assert r3.geary_c is None or math.isnan(r3.geary_c)


def test_local_morans_quadrants(spark):
    """A high block beside a low field: block interior cells read HH,
    low cells adjacent to the block read LH, far low cells LL or LH by
    lag sign; values match a NumPy recompute bit-for-bit."""
    res = 6
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    lon0, lat0 = 10.0 + w / 2, 20.0 + h / 2
    grid = {}
    for i in range(6):
        for j in range(3):
            grid[(i, j)] = 9 if i < 2 else 1
    rows = []
    for (i, j), c in grid.items():
        rows += [(lon0 + i * w, lat0 + j * h)] * c
    df = spark.createDataFrame(rows, "lon double, lat double")
    out = {(r.ix, r.iy): r for r in cells.local_morans_i(df, res).collect()}
    assert len(out) == 18
    n = 18
    s1 = sum(grid.values())
    s2 = sum(v * v for v in grid.values())
    xbar = s1 / n
    m2 = s2 / n - xbar * xbar
    ix0 = int((lon0 + 180) / 360 * 64)
    iy0 = int((lat0 + 90) / 180 * 64)
    for (gi, gj), x in grid.items():
        r = out[(ix0 + gi, iy0 + gj)]
        wx = sum(grid.get((gi + di, gj + dj), 0)
                 for di in (-1, 0, 1) for dj in (-1, 0, 1)
                 if 0 <= gi + di and 0 <= gj + dj)
        # interior of the world grid here, so wi = 9 everywhere
        assert r.wi == 9 and r.wx == wx
        z = x - xbar
        lag = (wx - x) - xbar * (9 - 1.0)
        assert r.lisa_i == (z / m2) * lag
        want_quad = ("HH" if z > 0 and lag > 0 else
                     "LL" if z < 0 and lag < 0 else
                     "HL" if z > 0 else "LH")
        assert r.quadrant == want_quad
    # the planted geometry actually produces a mixed map
    quads = {r.quadrant for r in out.values()}
    assert {"HH", "LL", "LH"} <= quads


def test_idw_surface_semantics(spark):
    """Exact-hit short-circuit, near-sample dominance, and partition
    invariance (the key-sorted fold is the operator's order
    contract)."""
    res = 6
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    ix0, iy0 = 34, 39
    cx = -180.0 + (ix0 + 0.5) * w
    cy = -90.0 + (iy0 + 0.5) * h
    pts = spark.createDataFrame(
        [("a", cx, cy, 100),              # exactly on a cell center
         ("b", cx + 2 * w, cy, 10),       # two cells east
         ("c", cx + 2.1 * w, cy, 50)],
        "subject string, lon double, lat double, val long")
    out = {r.cell: r for r in cells.idw_surface(pts, res).collect()}
    hit = out[cells.pack_cell_value(ix0, iy0, res)]
    assert hit.idw == 100.0  # exact-hit short-circuit, bitwise
    # the cell between a and b: pulled toward both, strictly between
    mid = out[cells.pack_cell_value(ix0 + 1, iy0, res)]
    assert 10.0 < mid.idw < 100.0 and mid.n_samples >= 2
    # cells near b/c only: between 10 and 50
    far = out[cells.pack_cell_value(ix0 + 3, iy0, res)]
    assert 10.0 <= far.idw <= 50.0
    again = {r.cell: r.idw for r in
             cells.idw_surface(pts.repartition(7), res).collect()}
    assert {c: r.idw for c, r in out.items()} == again


def test_tile_topk_pyramid_semantics_and_plan(spark):
    """Per-tile top-k: every (res, tile) keeps <= k rows, ranks are
    1..m by (importance, key), the kept set per tile is exactly the k
    lowest-importance keys, and the window compiles to
    WindowGroupLimit (only k rows per tile survive a partition)."""
    rows = [(f"s{i:03d}", 10.0 + (i % 7) * 0.001, 20.0 + (i // 7) * 0.001,
             (i * 37) % 50) for i in range(140)]
    pts = spark.createDataFrame(
        rows, "subject string, lon double, lat double, importance long")
    out = cells.tile_topk_pyramid(pts, base_res=10, levels=(8,), k=3,
                                  rank_col="importance")
    got = out.collect()
    by_tile = {}
    for r in got:
        by_tile.setdefault((r.res, r.cell), []).append(r)
    for (_res, _cell), members in by_tile.items():
        assert len(members) <= 3
        assert sorted(r.rank for r in members) == list(
            range(1, len(members) + 1))
    # brute-force expectation at the base level
    base = {}
    for s, lo, la, imp in rows:
        ix = int((lo + 180.0) / 360.0 * (1 << 10))
        iy = int((la + 90.0) / 180.0 * (1 << 10))
        base.setdefault((ix, iy), []).append((imp, s))
    for (ix, iy), mem in base.items():
        want = [s for _, s in sorted(mem)[:3]]
        cell = cells.pack_cell_value(ix, iy, 10)
        got_keys = [r.subject for r in sorted(
            (x for x in got if x.res == 10 and x.cell == cell),
            key=lambda r: r.rank)]
        assert got_keys == want, (ix, iy)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_shared_cell_counts_frame_matches_per_operator_rollups(spark):
    """cells.cell_counts / field_frame passed into the ESDA entry
    points (hotspots, LISA, Moran's I, density, grid-DBSCAN) must give
    byte-identical results to each operator's own internal rollup —
    the compute-once-share-everywhere contract of the analytics mart
    (r3 verdict item 4)."""
    from fagi_spark import cells, cluster, synth

    pages = synth.synth_pages(spark, 600, partitions=4)
    from fagi_spark import extract
    pts = extract.geocode_pages(pages).select("url", "lon", "lat")
    res = 6
    counts = cells.cell_counts(pts, res).persist()
    field = cells.field_frame(pts, res, counts=counts).persist()

    def rows(df, *key):
        return sorted(map(tuple, df.collect()), key=lambda t: t[:len(key)])

    assert rows(cells.hotspots(pts, res, field=field), 0) == \
        rows(cells.hotspots(pts, res), 0)
    assert rows(cells.local_morans_i(pts, res, field=field), 0) == \
        rows(cells.local_morans_i(pts, res), 0)
    assert rows(cells.morans_i(pts, res, counts=counts), 0) == \
        rows(cells.morans_i(pts, res), 0)
    assert rows(cells.density_surface(pts, res, counts=counts), 0) == \
        rows(cells.density_surface(pts, res), 0)
    shared = cluster.grid_dbscan(pts, res, 3, key="url", counts=counts)
    solo = cluster.grid_dbscan(pts, res, 3, key="url")
    assert rows(shared, 0, 1) == rows(solo, 0, 1)
    field.unpersist()
    counts.unpersist()


def test_coverage_gaps_bruteforce(spark):
    """Gap set == brute-force universe-minus-dilated-coverage; ring=0
    leaves exactly the untouched cells; a fully covered viewport has
    zero gaps."""
    from fagi_spark import cells
    res = 12
    w = 360.0 / (1 << res)
    h = 180.0 / (1 << res)
    # points on a few known cells inside a 6x4-cell viewport at origin
    pts_cells = [(2, 1), (4, 3), (0, 0)]
    rows = [(-180.0 + (ix + 0.5) * w, -90.0 + (iy + 0.5) * h)
            for ix, iy in pts_cells]
    df = spark.createDataFrame(rows, "lon double, lat double")
    bbox = (-180.0, -90.0, -180.0 + 5.5 * w, -90.0 + 3.5 * h)
    ix0, ix1, iy0, iy1 = cells.bbox_cells_range(res, *bbox)
    uni = {(x, y) for x in range(ix0, ix1 + 1) for y in range(iy0, iy1 + 1)}
    for ring in (0, 1):
        got = {(r["ix"], r["iy"])
               for r in cells.coverage_gaps(df, res, bbox, ring=ring)
               .collect()}
        dil = {(x + dx, y + dy) for x, y in pts_cells
               for dx in range(-ring, ring + 1)
               for dy in range(-ring, ring + 1)}
        assert got == uni - dil, f"ring={ring}"
    # fully covered: every universe cell has a point
    full = spark.createDataFrame(
        [(-180.0 + (x + 0.5) * w, -90.0 + (y + 0.5) * h) for x, y in uni],
        "lon double, lat double")
    assert cells.coverage_gaps(full, res, bbox, ring=0).count() == 0


def test_join_counts_bruteforce_and_guards(spark):
    """Hand lattice: BB/BW/WW directed pair counts match a Python
    8-adjacency enumeration; clumped black cells push bb_ratio above
    1; all-white field hits the NULL guard."""
    res = 6
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    lon0, lat0 = 10.0 + w / 2, 20.0 + h / 2

    def field(counts_grid):
        rows = []
        for (i, j), c in counts_grid.items():
            rows += [(lon0 + i * w, lat0 + j * h)] * c
        return spark.createDataFrame(rows, "lon double, lat double")

    # black clump (counts >= 2) at (0,0),(0,1),(1,0); white singles around
    grid = {(0, 0): 3, (0, 1): 2, (1, 0): 4, (1, 1): 1,
            (2, 0): 1, (2, 2): 1, (3, 1): 1}
    out = cells.join_counts(field(grid), res, threshold=2).first()
    blk = {k: v >= 2 for k, v in grid.items()}
    bb = bw = ww = wp = 0
    for (i1, j1), b1 in blk.items():
        for (i2, j2), b2 in blk.items():
            if (i1, j1) != (i2, j2) and abs(i1 - i2) <= 1 \
                    and abs(j1 - j2) <= 1:
                wp += 1
                bb += b1 and b2
                ww += (not b1) and (not b2)
                bw += b1 != b2
    assert (out["n_cells"], out["n_black"]) == (len(grid), 3)
    assert (out["w_pairs"], out["bb"], out["bw"], out["ww"]) == \
        (wp, bb, bw, ww)
    pb = 3 / len(grid)
    assert out["bb_ratio"] == (bb / wp) / (pb * pb)
    assert out["bb_ratio"] > 1.0  # planted clump
    allw = cells.join_counts(field({(0, 0): 1, (0, 1): 1}), res,
                             threshold=2).first()
    assert allw["n_black"] == 0 and allw["bb_ratio"] is None


def test_dilate_cells_handcase(spark):
    from fagi_spark import cells
    from pyspark.sql import functions as F

    res = 4
    # one cell in the interior, one at the grid corner (clamping)
    base = spark.createDataFrame(
        [("A", 5, 5), ("B", 0, 0)], "subject string, ix long, iy long") \
        .select("subject", cells.pack_cell(
            F.col("ix"), F.col("iy"), res).alias("cell"))
    got = {}
    for r in cells.dilate_cells(base, res, k=1).collect():
        got.setdefault(r.subject, set()).add(r.cell)
    a_want = {cells.pack_cell_value(5 + dx, 5 + dy, res)
              for dx in (-1, 0, 1) for dy in (-1, 0, 1)}
    b_want = {cells.pack_cell_value(dx, dy, res)
              for dx in (0, 1) for dy in (0, 1)}
    assert got["A"] == a_want and len(got["A"]) == 9
    assert got["B"] == b_want  # corner clamps to 4 cells
    # k=0 is identity
    ident = {r.cell for r in cells.dilate_cells(base, res, k=0)
             .filter(F.col("subject") == "A").collect()}
    assert ident == {cells.pack_cell_value(5, 5, res)}
    # dilation is monotone: k=1 result contains the base
    assert cells.pack_cell_value(5, 5, res) in got["A"]


def test_distance_transform_handcase(spark):
    from fagi_spark import cells
    from pyspark.sql import functions as F

    res = 5
    seeds = spark.createDataFrame(
        [(10, 10), (14, 10), (0, 0)], "ix long, iy long") \
        .select(cells.pack_cell(F.col("ix"), F.col("iy"), res)
                .alias("cell"))
    got = {r.cell: r.dist for r in
           cells.distance_transform(seeds, res, max_d=2).collect()}
    # seed cells are 0
    assert got[cells.pack_cell_value(10, 10, res)] == 0
    assert got[cells.pack_cell_value(0, 0, res)] == 0
    # midpoint between the two seeds (12,10): chebyshev 2 from both
    assert got[cells.pack_cell_value(12, 10, res)] == 2
    # (11,11): 1 from (10,10)
    assert got[cells.pack_cell_value(11, 11, res)] == 1
    # beyond max_d from everything: absent
    assert cells.pack_cell_value(20, 20, res) not in got
    # corner seed clamps: (-1,-1) never appears
    assert all(c >= 0 for c in got)
    # brute-force parity over the whole reachable set
    seed_pts = [(10, 10), (14, 10), (0, 0)]
    for c, d in got.items():
        ix = (c - res * (1 << 58)) >> res
        iy = (c - res * (1 << 58)) % (1 << res)
        want = min(max(abs(ix - sx), abs(iy - sy)) for sx, sy in seed_pts)
        assert d == want, (ix, iy)


def test_map_clusters_handcase(spark):
    from fagi_spark import cells
    from pyspark.sql import functions as F

    # three points in one res-4 cell on the 0.01 grid + one elsewhere
    rows = [(-179.99, 0.01), (-179.97, 0.03), (-179.95, 0.05),
            (50.01, 10.01)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    got = {r.cell: r for r in cells.map_clusters(df, 4).collect()}
    assert len(got) == 2
    big = [r for r in got.values() if r.n_points == 3][0]
    assert (big.sum_gx, big.sum_gy) == (-17999 - 17997 - 17995, 1 + 3 + 5)
    assert big.clon == big.sum_gx / 3.0 / 100.0
    assert big.clat == big.sum_gy / 3.0 / 100.0
    one = [r for r in got.values() if r.n_points == 1][0]
    assert one.clon == 5001 / 1.0 / 100.0 and one.clat == 10.01


def test_erode_dilate_morphology(spark):
    from fagi_spark import cells
    from pyspark.sql import functions as F

    res = 5

    def cov(pts):
        return spark.createDataFrame(
            [("A", x, y) for x, y in pts], "subject string, ix long, iy long") \
            .select("subject", cells.pack_cell(
                F.col("ix"), F.col("iy"), res).alias("cell"))

    # 4x4 solid block: erosion(k=1) keeps the inner 2x2
    block = [(x, y) for x in range(8, 12) for y in range(8, 12)]
    got = {r.cell for r in cells.erode_cells(cov(block), res, k=1).collect()}
    want = {cells.pack_cell_value(x, y, res)
            for x in (9, 10) for y in (9, 10)}
    assert got == want
    # salt noise: an isolated cell erodes away entirely
    noisy = block + [(20, 20)]
    got = {r.cell for r in cells.erode_cells(cov(noisy), res, k=1).collect()}
    assert got == want
    # opening (erode-then-dilate) removes the noise but keeps the block
    opened = cells.dilate_cells(
        cells.erode_cells(cov(noisy), res, k=1), res, k=1)
    got = {r.cell for r in opened.collect()}
    assert got == {cells.pack_cell_value(x, y, res) for x, y in block}
    # grid corner: only (0,0)'s clipped window (2x2) is fully covered
    # by a corner 2x2 block; (0,1)'s window is 2x3 and misses row 2
    corner = [(0, 0), (0, 1), (1, 0), (1, 1)]
    got = {r.cell for r in cells.erode_cells(cov(corner), res, k=1).collect()}
    assert got == {cells.pack_cell_value(0, 0, res)}


def test_contour_segments_single_peak_and_parity(spark):
    from fractions import Fraction
    from fagi_spark import cells as c

    # single hot lattice point (5) at (10, 20), T=3: four blocks emit
    # one segment each, forming a closed diamond around the point with
    # crossings at t = 2/5 from the hot corner
    f = spark.createDataFrame([(10, 20, 5)], "ix long, iy long, n long")
    segs = c.contour_segments(f, 3).collect()
    assert len(segs) == 4
    assert sorted(r.mcase for r in segs) == [1, 2, 4, 8]
    pts = set()
    for r in segs:
        pts.add((Fraction(r.ax_num, r.ax_den), Fraction(r.ay_num, r.ay_den)))
        pts.add((Fraction(r.bx_num, r.bx_den), Fraction(r.by_num, r.by_den)))
    t = Fraction(2, 5)
    assert pts == {(10 + t, Fraction(20)), (10 - t, Fraction(20)),
                   (Fraction(10), 20 + t), (Fraction(10), 20 - t)}
    # each diamond vertex is shared by exactly two segments (closed loop)
    from collections import Counter
    cnt = Counter()
    for r in segs:
        cnt[(Fraction(r.ax_num, r.ax_den), Fraction(r.ay_num, r.ay_den))] += 1
        cnt[(Fraction(r.bx_num, r.bx_den), Fraction(r.by_num, r.by_den))] += 1
    assert all(v == 2 for v in cnt.values())

    # saddle case fires and stays deterministic: hot at (0,0) and (1,1)
    f2 = spark.createDataFrame([(0, 0, 9), (1, 1, 9)],
                               "ix long, iy long, n long")
    got = {(r.bi, r.bj, r.mcase, r.seg_idx) for r in
           c.contour_segments(f2, 5).collect()}
    assert (0, 0, 5, 0) in got and (0, 0, 5, 1) in got  # the saddle block


def test_cell_provider_seam(spark, monkeypatch):
    """r4 verdict item 5: the import-guarded h3 provider behind
    cells.cell_col. The grid provider is byte-identical to the historic
    default; provider='h3' either runs the real h3 path (where the package
    is importable) or fails fast driver-side with install guidance, and
    an h3 with the pre-4 API fails fast naming the version."""
    import sys
    import types

    import pytest

    pts = [(-71.0571, 42.3601), (12.5, 41.9), (139.69, 35.68)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    legacy = [r.c for r in df.select(
        cells.pack_cell(cells.ix_col(F.col("lon"), 9),
                        cells.iy_col(F.col("lat"), 9), 9).alias("c")).collect()]
    grid = [r.c for r in df.select(
        cells.cell_col(F.col("lon"), F.col("lat"), 9,
                       provider="grid").alias("c")).collect()]
    dflt = [r.c for r in df.select(
        cells.cell_col(F.col("lon"), F.col("lat"), 9).alias("c")).collect()]
    assert legacy == grid == dflt

    with pytest.raises(ValueError, match="provider"):
        cells.cell_col(F.col("lon"), F.col("lat"), 9, provider="s2")

    try:
        import h3  # noqa: F401
        have_h3 = True
    except ImportError:
        have_h3 = False
    if not have_h3:
        with pytest.raises(ImportError, match="pip install h3"):
            cells.cell_col(F.col("lon"), F.col("lat"), 9, provider="h3")
        with pytest.raises(ImportError, match="pip install h3"):
            cells.explode_disk_h3(df.withColumn(
                "cell", F.lit(0).cast("long")), 1)
    else:  # pragma: no cover - h3 absent in this container
        got = [r.c for r in df.select(
            cells.cell_col(F.col("lon"), F.col("lat"), 9,
                           provider="h3").alias("c")).collect()]
        want = [int(h3.str_to_int(h3.latlng_to_cell(la, lo, 9)))
                for lo, la in pts]
        assert got == want
        disks = cells.explode_disk_h3(
            df.select(cells.cell_col(F.col("lon"), F.col("lat"), 9,
                                     provider="h3").alias("cell")), 1)
        per = disks.groupBy("cell").count().collect()
        assert all(r["count"] in (6, 7) for r in per)  # hex + pentagons

    # an h3 3.x module (geo_to_h3 / k_ring names) must not reach a task
    v3 = types.ModuleType("h3")
    v3.__version__ = "3.7.7"
    v3.geo_to_h3 = lambda lat, lng, res: "89283082837ffff"
    v3.k_ring = lambda h, k: [h]
    v3.string_to_h3 = int
    monkeypatch.setitem(sys.modules, "h3", v3)
    with pytest.raises(ImportError, match=r"h3 >= 4 API.*3\.7\.7.*"
                                          "latlng_to_cell"):
        cells.cell_col(F.col("lon"), F.col("lat"), 9, provider="h3")
    with pytest.raises(ImportError, match="h3 >= 4 API"):
        cells.explode_disk_h3(df.withColumn("cell", F.lit(0).cast("long")), 1)
