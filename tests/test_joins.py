"""Spatial joins vs brute-force oracles (SURVEY.md §5.5 property tests)."""

import numpy as np
from pyspark.sql import functions as F

from fagi_spark import fuse, geom, joins


def _points_df(spark, n, seed, name):
    rng = np.random.RandomState(seed)
    lon = rng.uniform(-2, 2, n).round(5)
    lat = rng.uniform(-2, 2, n).round(5)
    rows = [(f"{name}{i}", f"POINT ({lon[i]} {lat[i]})") for i in range(n)]
    return fuse.prepare_geoms(
        spark.createDataFrame(rows, "subject string, geom_wkt string")), lon, lat


def test_radius_join_matches_bruteforce(spark):
    a, alon, alat = _points_df(spark, 80, 1, "a")
    b, blon, blat = _points_df(spark, 80, 2, "b")
    radius_m = 0.3 * geom.METERS_PER_DEGREE  # 0.3 degrees
    got = {(r.a_subject, r.b_subject)
           for r in joins.radius_join(a, b, radius_m).collect()}
    dx = alon[:, None] - blon[None, :]
    dy = alat[:, None] - blat[None, :]
    want = {(f"a{i}", f"b{j}")
            for i, j in zip(*np.nonzero(np.hypot(dx, dy) <= 0.3))}
    assert got == want


def test_radius_join_salted_same_result(spark):
    a, *_ = _points_df(spark, 60, 3, "a")
    b, *_ = _points_df(spark, 60, 4, "b")
    radius_m = 0.2 * geom.METERS_PER_DEGREE
    plain = {(r.a_subject, r.b_subject) for r in joins.radius_join(a, b, radius_m).collect()}
    salted = {(r.a_subject, r.b_subject)
              for r in joins.radius_join(a, b, radius_m, n_salts=8).collect()}
    assert plain == salted


def test_width_guard_drops_wide_candidates(spark):
    a = fuse.prepare_geoms(spark.createDataFrame(
        [("a1", "POINT (0 0)")], "subject string, geom_wkt string"))
    b = fuse.prepare_geoms(spark.createDataFrame(
        [("narrow", "POLYGON ((0 0, 0.005 0, 0.005 0.005, 0 0.005, 0 0))"),
         ("wide", "POLYGON ((0 0, 0.5 0, 0.5 0.5, 0 0.5, 0 0))")],
        "subject string, geom_wkt string"))
    got = {r.b_subject for r in joins.radius_join(a, b, 100000.0).collect()}
    assert got == {"narrow"}  # F5: st_xmax - st_xmin < 0.01 (FindLinkServlet.java:198)


def test_knn_rank_and_k(spark):
    a = fuse.prepare_geoms(spark.createDataFrame(
        [("q", "POINT (0 0)")], "subject string, geom_wkt string"))
    b = fuse.prepare_geoms(spark.createDataFrame(
        [(f"n{i}", f"POINT (0 {0.01 * (i + 1)})") for i in range(10)],
        "subject string, geom_wkt string"))
    got = joins.knn_join(a, b, k_neighbors=3, radius_m=0.2 * geom.METERS_PER_DEGREE)
    rows = sorted((r.knn_rank, r.b_subject) for r in got.collect())
    assert rows == [(1, "n0"), (2, "n1"), (3, "n2")]


def test_bbox_join(spark):
    geo = fuse.prepare_geoms(spark.createDataFrame(
        [("in1", "POINT (1 1)"), ("in2", "POINT (9.5 9.5)"), ("out1", "POINT (20 1)"),
         ("out2", "POINT (1 -20)")], "subject string, geom_wkt string"))
    got = {r.subject for r in joins.bbox_join(geo, 0, 0, 10, 10).collect()}
    assert got == {"in1", "in2"}


def test_pip_refine_matches_bruteforce(spark):
    rng = np.random.RandomState(11)
    pts = rng.uniform(0, 4, size=(150, 2)).round(5)
    points = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "subject string, cx double, cy double")
    polys_wkt = [
        ("g0", "POLYGON ((0.5 0.5, 2 0.5, 2 2, 0.5 2, 0.5 0.5))"),
        ("g1", "POLYGON ((1 1, 3.5 1, 3.5 3.5, 1 3.5, 1 1), (2 2, 3 2, 3 3, 2 3, 2 2))"),
        ("g2", "MULTIPOLYGON (((3 0, 4 0, 4 1, 3 1, 3 0)))"),
    ]
    polys = fuse.prepare_geoms(
        spark.createDataFrame(polys_wkt, "subject string, geom_wkt string"))
    got = {(r.point_subject, r.poly_subject)
           for r in joins.pip_refine(points, polys, res=8).collect()}
    want = set()
    for name, wkt in polys_wkt:
        g = geom.parse_wkt(wkt)
        hit = geom.points_in_polygon(pts[:, 0], pts[:, 1], g)
        want |= {(f"p{i}", name) for i in np.nonzero(hit)[0]}
    assert got == want


def test_pip_refine_polygon_spanning_cells_no_dupes(spark):
    # polygon spans many res-10 cells; each contained point must appear once
    points = spark.createDataFrame(
        [(f"p{i}", 0.1 * i, 0.05) for i in range(20)],
        "subject string, cx double, cy double")
    polys = fuse.prepare_geoms(spark.createDataFrame(
        [("big", "POLYGON ((0 0, 2 0, 2 0.1, 0 0.1, 0 0))")],
        "subject string, geom_wkt string"))
    rows = joins.pip_refine(points, polys, res=10).collect()
    assert len(rows) == len({(r.point_subject, r.poly_subject) for r in rows})
    # p0 (on the left edge: even-odd counts left/bottom boundary as inside)
    # through p19 (x=1.9) are contained
    assert len(rows) == 20


def test_pip_auto_res_matches_fixed(spark):
    """res=None picks a sane resolution and produces the same pairs."""
    from fagi_spark import fuse, joins, synth
    from pyspark.sql import functions as F

    geo_a, geo_b, _, _, _ = synth.synth_fixture(spark, 150, 100)
    ga = fuse.prepare_geoms(geo_a)
    gb = fuse.prepare_geoms(geo_b)
    pts = (ga.filter(F.col("geom_kind") == "POINT")
           .select("subject", "cx", "cy"))
    polys = gb.filter(F.col("geom_kind").isin("POLYGON", "MULTIPOLYGON"))
    r = joins.pip_auto_res(polys)
    # fixture squares are 0.008 deg wide -> cell must be at least that
    assert 0 < r <= 16
    from fagi_spark import cells
    assert cells.cell_width_deg(r) >= 0.008
    fixed = {(x["point_subject"], x["poly_subject"])
             for x in joins.pip_refine(pts, polys, res=12).collect()}
    auto = {(x["point_subject"], x["poly_subject"])
            for x in joins.pip_refine(pts, polys, res=None).collect()}
    assert auto == fixed


def _prep(spark, rows):
    df = spark.createDataFrame(rows, "subject string, geom_wkt string")
    return fuse.prepare_geoms(df)


def test_intersects_join_matches_bruteforce(spark):
    """Full PBSM plan == all-pairs geoms_intersect on the fixture
    squares (auto resolution, report-once dedup included)."""
    import itertools
    from fagi_spark import synth
    geo_a, geo_b, _, _, _ = synth.synth_fixture(spark, 200, 150)
    pa = fuse.prepare_geoms(geo_a).filter(F.col("geom_kind") == "POLYGON")
    pb = fuse.prepare_geoms(geo_b).filter(F.col("geom_kind") == "POLYGON")
    got = {(r.a_subject, r.b_subject)
           for r in joins.intersects_join(pa, pb).collect()}
    A = [(r.subject, geom.parse_wkt(r.geom_wkt)) for r in pa.collect()]
    B = [(r.subject, geom.parse_wkt(r.geom_wkt)) for r in pb.collect()]
    want = {(sa, sb) for (sa, a), (sb, b) in itertools.product(A, B)
            if geom.geoms_intersect(a, b)}
    assert got == want and len(got) > 0
    # candidate mode emits each envelope-overlap pair exactly once
    cand = joins.intersects_join(pa, pb, exact=False)
    assert cand.count() == cand.distinct().count()


def test_intersects_join_refinement_beats_bbox(spark):
    """Shapes where envelope overlap and true intersection disagree —
    the exact kernel must decide, not the prefilter:
    - an L-shape whose notch swallows a small square (bbox overlap,
      NO intersection)
    - the same L-shape against a square crossing its arm (intersects)
    - edge-touching squares (boundary-inclusive: intersects)
    - corner-touching squares (intersects)
    - containment without edge crossing (intersects)
    - disjoint squares in the same cell (no intersection)"""
    L = "POLYGON ((0 0, 3 0, 3 1, 1 1, 1 3, 0 3, 0 0))"
    a = _prep(spark, [("L", L)])
    b = _prep(spark, [
        ("in_notch", "POLYGON ((1.5 1.5, 2.5 1.5, 2.5 2.5, 1.5 2.5, 1.5 1.5))"),
        ("crosses_arm", "POLYGON ((0.2 0.5, 0.8 0.5, 0.8 1.5, 0.2 1.5, 0.2 0.5))"),
        ("edge_touch", "POLYGON ((3 0, 4 0, 4 1, 3 1, 3 0))"),
        ("corner_touch", "POLYGON ((3 1, 4 1, 4 2, 3 2, 3 1))"),
        ("contained", "POLYGON ((0.2 0.2, 0.6 0.2, 0.6 0.6, 0.2 0.6, 0.2 0.2))"),
        ("disjoint", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"),
    ])
    got = {r.b_subject for r in joins.intersects_join(a, b, res=6).collect()}
    assert got == {"crosses_arm", "edge_touch", "corner_touch", "contained"}
    # the bbox candidate superset DOES include the notch shape
    cand = {r.b_subject
            for r in joins.intersects_join(a, b, res=6, exact=False).collect()}
    assert "in_notch" in cand and "disjoint" not in cand


def test_intersects_join_multipolygon_and_points(spark):
    """MULTIPOLYGON parts hit independently; POINT envelopes work
    (a point inside a polygon intersects it)."""
    a = _prep(spark, [
        ("mp", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
               "((10 10, 11 10, 11 11, 10 11, 10 10)))")])
    b = _prep(spark, [
        ("hits_part2", "POLYGON ((10.5 10.5, 12 10.5, 12 12, 10.5 12, 10.5 10.5))"),
        ("between", "POLYGON ((4 4, 5 4, 5 5, 4 5, 4 4))"),
        ("pt_inside", "POINT (0.5 0.5)"),
        ("pt_out", "POINT (2 2)"),
    ])
    got = {r.b_subject for r in joins.intersects_join(a, b, res=5).collect()}
    assert got == {"hits_part2", "pt_inside"}


def test_dwithin_join_matches_bruteforce(spark):
    """PBSM ST_DWithin == all-pairs min_distance filter, including the
    exact distance values and zero-distance intersecting pairs."""
    import itertools
    from fagi_spark import synth
    geo_a, geo_b, _, _, _ = synth.synth_fixture(spark, 150, 120)
    pa, pb = fuse.prepare_geoms(geo_a), fuse.prepare_geoms(geo_b)
    R = 3000.0
    got = {(r.a_subject, r.b_subject): r.distance_m
           for r in joins.dwithin_join(pa, pb, R).collect()}
    A = [(r.subject, geom.parse_wkt(r.geom_wkt)) for r in pa.collect()]
    B = [(r.subject, geom.parse_wkt(r.geom_wkt)) for r in pb.collect()]
    rd = R / geom.METERS_PER_DEGREE
    want = {(sa, sb): geom.min_distance(a, b) * geom.METERS_PER_DEGREE
            for (sa, a), (sb, b) in itertools.product(A, B)
            if geom.min_distance(a, b) <= rd}
    assert got == want and len(got) > 0
    # candidates are reported once, and cover every exact pair, both at
    # the auto resolution and two levels finer, where the padded A
    # envelopes span several cells per axis
    env = ["xmin", "ymin", "xmax", "ymax"]
    auto = joins._auto_res(pa.select(*env).unionByName(pb.select(*env)), rd)
    for res in (None, auto + 2):
        cand = joins.dwithin_join(pa, pb, R, res=res, exact=False)
        pairs = [(r.a_subject, r.b_subject) for r in cand.collect()]
        assert len(pairs) == len(set(pairs)) == cand.distinct().count()
        assert set(got) <= set(pairs)


def test_dwithin_join_shapes_not_centroids(spark):
    """The predicate is shape distance, NOT centroid distance: two
    long rectangles whose edges nearly touch match even though their
    centroids are far apart; radius_join (centroid metric) misses
    them."""
    a = _prep(spark, [("bar_a", "POLYGON ((0 0, 10 0, 10 1, 0 1, 0 0))")])
    b = _prep(spark, [("bar_b", "POLYGON ((0 1.001, 10 1.001, 10 2.001, 0 2.001, 0 1.001))")])
    R = 0.002 * geom.METERS_PER_DEGREE  # 0.002 deg in meters
    got = [(r.a_subject, r.b_subject, r.distance_m)
           for r in joins.dwithin_join(a, b, R, res=6).collect()]
    assert len(got) == 1
    assert abs(got[0][2] / geom.METERS_PER_DEGREE - 0.001) < 1e-9
    # centroid distance is 1.001 deg — far beyond the radius
    cen = joins.radius_join(a, b, R, width_guard_deg=1e9)
    assert cen.count() == 0


def test_raster_iou_hand_cases(spark):
    """IoU of raster footprints: identical -> 1.0, disjoint -> 0.0,
    half-overlap -> 1/3 (cells: 2 each, 1 shared at res where each
    square is 2x1 cells)."""
    # res 3 cells: 45 deg wide, 22.5 deg tall; squares spanning 2x1 cells
    A = _prep(spark, [
        ("same", "POLYGON ((0 0, 89 0, 89 22, 0 22, 0 0))"),
        ("half", "POLYGON ((0 0, 89 0, 89 22, 0 22, 0 0))"),
        ("disj", "POLYGON ((0 0, 44 0, 44 22, 0 22, 0 0))"),
    ])
    B = _prep(spark, [
        ("b_same", "POLYGON ((0 0, 89 0, 89 22, 0 22, 0 0))"),
        ("b_half", "POLYGON ((45 0, 134 0, 134 22, 45 22, 45 0))"),
        ("b_disj", "POLYGON ((90 0, 134 0, 134 22, 90 22, 90 0))"),
    ])
    links = spark.createDataFrame(
        [("same", "b_same"), ("half", "b_half"), ("disj", "b_disj")],
        "node_a string, node_b string")
    # a link whose A side has NO raster footprint (tiny polygon missing
    # every res-3 cell center) must still be reported with iou 0.0,
    # not silently dropped (r3 review fix)
    A2 = A.unionByName(_prep(
        spark, [("tiny", "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")]))
    links = links.unionByName(spark.createDataFrame(
        [("tiny", "b_same")], "node_a string, node_b string"))
    got = {r.node_a: (r.n_a, r.n_b, r.n_inter, r.iou)
           for r in joins.raster_iou(A2, B, links, res=3).collect()}
    assert got["same"] == (2, 2, 2, 1.0)
    assert got["half"] == (2, 2, 1, 1.0 / 3.0)
    assert got["disj"] == (1, 1, 0, 0.0)
    assert got["tiny"] == (0, 2, 0, 0.0)


def test_knn_shape_join_rank_and_k(spark):
    """Shape-kNN: ranks follow exact shape distance (a long bar beats
    a closer-centroid small square), at most k rows per A subject."""
    a = _prep(spark, [("q", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")])
    b = _prep(spark, [
        # bar: centroid at x=6 but its left edge is only 0.5 away
        ("bar", "POLYGON ((1.5 0, 10.5 0, 10.5 1, 1.5 1, 1.5 0))"),
        ("sq_near", "POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))"),    # dist 1
        ("sq_far", "POLYGON ((4 0, 5 0, 5 1, 4 1, 4 0))"),     # dist 3
        ("sq_out", "POLYGON ((40 0, 41 0, 41 1, 40 1, 40 0))"),
    ])
    R = 5.0 * geom.METERS_PER_DEGREE
    got = [(r.b_subject, r.knn_rank, r.distance_m / geom.METERS_PER_DEGREE)
           for r in joins.knn_shape_join(a, b, 2, R, res=4)
           .orderBy("knn_rank").collect()]
    assert [(s, k) for s, k, _ in got] == [("bar", 1), ("sq_near", 2)]
    assert abs(got[0][2] - 0.5) < 1e-12
    # k=3 admits sq_far but never the out-of-radius square
    got3 = {r.b_subject for r in
            joins.knn_shape_join(a, b, 3, R, res=4).collect()}
    assert got3 == {"bar", "sq_near", "sq_far"}


def test_zonal_stats_hand_fixture(spark):
    """Two squares, hand-placed points (one shared point in the
    overlap, one outside both): counts and exact value aggregates."""
    from fagi_spark import joins as j2

    pts = spark.createDataFrame(
        [("p1", 1.0, 1.0, 10), ("p2", 2.0, 2.0, 20),
         ("p3", 6.0, 1.0, 40), ("p4", 50.0, 50.0, 80)],
        "subject string, cx double, cy double, val long")
    polys = spark.createDataFrame(
        [("z1", "POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))", 0.0, 0.0, 5.0, 5.0),
         ("z2", "POLYGON ((1.5 0, 7 0, 7 5, 1.5 5, 1.5 0))",
          1.5, 0.0, 7.0, 5.0)],
        "subject string, geom_wkt string, xmin double, ymin double, "
        "xmax double, ymax double")
    out = {r.poly_subject: r for r in
           j2.zonal_stats(pts, polys, value="val", res=6).collect()}
    z1, z2 = out["z1"], out["z2"]
    assert (z1.n_points, z1.sum_val, z1.min_val, z1.max_val) == (2, 30, 10, 20)
    assert (z2.n_points, z2.sum_val, z2.min_val, z2.max_val) == (2, 60, 20, 40)
    # count-only mode
    only = {r.poly_subject: r.n_points
            for r in j2.zonal_stats(pts, polys, res=6).collect()}
    assert only == {"z1": 2, "z2": 2}


def test_snap_to_way_contract_semantics(spark):
    """Nearest-way snap: the vertical leg can beat the horizontal one
    (true shape distance, not centroid), equidistant ways break ties
    by subject, and points outside the radius drop."""
    from fagi_spark import contract, fuse, geom

    pts = fuse.prepare_geoms(spark.createDataFrame(
        [("p1", "POINT (0.03 0.10)"),    # 0.10 above the h-leg of r1
         ("p2", "POINT (0.07 0.03)"),    # 0.01 right of r1's v-leg
         ("p3", "POINT (5.00 5.00)")],   # far from everything
        "subject string, geom_wkt string"))
    ways = fuse.prepare_geoms(spark.createDataFrame(
        [("r1", "LINESTRING (0.00 0.00, 0.06 0.00, 0.06 0.05)"),
         ("r2", "LINESTRING (0.00 0.20, 0.06 0.20, 0.06 0.25)")],
        "subject string, geom_wkt string"))
    from fagi_spark import joins
    got = {r["a_subject"]: (r["b_subject"], r["distance_m"])
           for r in joins.knn_shape_join(pts, ways, 1, 15000.0).collect()}
    assert "p3" not in got
    # p1's nearest feature is r1's leg-top VERTEX (0.06, 0.05):
    # sqrt(0.03^2 + 0.05^2) deg — closer than either leg's interior
    assert got["p1"][0] == "r1"
    import math
    want = math.sqrt(0.03 * 0.03 + 0.05 * 0.05) * geom.METERS_PER_DEGREE
    assert got["p1"][1] == want
    # p2 snaps to r1's VERTICAL leg at 0.01 deg (centroid logic would
    # not see this)
    assert got["p2"] == ("r1", (0.07 - 0.06) * geom.METERS_PER_DEGREE)


def test_dissolve_area_overlap_not_double_counted(spark):
    """Two overlapping squares in one group dissolve to the UNION of
    their raster cells; a disjoint group just sums; per-group polygon
    counts are exact."""
    d = 360.0 / (1 << 13)  # one res-13 cell width
    rows = [
        # group 0: two squares overlapping by half their width
        ("p0", _sq(0.0, 0.0, 8 * d), 0),
        ("p1", _sq(4 * d, 0.0, 8 * d), 0),
        # group 1: one far-away square
        ("p2", _sq(50.0, 10.0, 8 * d), 1),
    ]
    polys = fuse.prepare_geoms(
        spark.createDataFrame([(s, w) for s, w, _ in rows],
                              "subject string, geom_wkt string"))
    grp = spark.createDataFrame([(s, g) for s, _, g in rows],
                                "subject string, group_id long")
    out = {r["group_id"]: (r["n_cells"], r["n_polys"])
           for r in joins.dissolve_area(polys.join(grp, "subject"), res=13)
           .collect()}
    per_poly = {r["subject"]: set()
                for r in grp.collect()}
    for r in joins.rasterize_polygons(polys, res=13).collect():
        per_poly[r["subject"]].add(r["cell"])
    assert out[0] == (len(per_poly["p0"] | per_poly["p1"]), 2)
    assert len(per_poly["p0"] & per_poly["p1"]) > 0  # overlap is real
    assert out[0][0] < len(per_poly["p0"]) + len(per_poly["p1"])
    assert out[1] == (len(per_poly["p2"]), 1)


def _sq(x0, y0, d):
    return (f"POLYGON (({x0} {y0}, {x0 + d} {y0}, {x0 + d} {y0 + d}, "
            f"{x0} {y0 + d}, {x0} {y0}))")


def test_polygon_adjacency_bruteforce(spark):
    """ring=1 pairs == brute-force Chebyshev-1 footprint test; ring=0
    is exactly footprint overlap; far squares never pair."""
    d = 360.0 / (1 << 13)
    rows = [("a", _sq(0.0, 0.0, 4 * d)),
            ("b", _sq(5 * d, 0.0, 4 * d)),      # one EMPTY cell gap to a
                                                 # (Chebyshev 2 - not ring-1)
            ("c", _sq(2 * d, 0.0, 4 * d)),      # overlaps a and b
            ("d", _sq(60.0, 30.0, 4 * d))]      # far away
    polys = fuse.prepare_geoms(
        spark.createDataFrame(rows, "subject string, geom_wkt string"))
    foot = {}
    for r in joins.rasterize_polygons(polys, res=13).collect():
        foot.setdefault(r["subject"], set()).add(
            (r["cell"] >> 13 & (1 << 13) - 1, r["cell"] & (1 << 13) - 1))

    def cheb_within(s1, s2, k):
        return any(abs(x1 - x2) <= k and abs(y1 - y2) <= k
                   for x1, y1 in foot[s1] for x2, y2 in foot[s2])

    for ring in (0, 1):
        got = {(r["a_subject"], r["b_subject"])
               for r in joins.polygon_adjacency(polys, res=13, ring=ring)
               .collect()}
        want = {(s1, s2) for s1 in foot for s2 in foot if s1 < s2
                and cheb_within(s1, s2, ring)}
        assert got == want, f"ring={ring}"
    got1 = {(r["a_subject"], r["b_subject"])
            for r in joins.polygon_adjacency(polys, res=13, ring=1).collect()}
    assert got1 == {("a", "c"), ("b", "c")}  # gap cell keeps a-b apart
    got2 = {(r["a_subject"], r["b_subject"])
            for r in joins.polygon_adjacency(polys, res=13, ring=2).collect()}
    assert ("a", "b") in got2  # ring=2 bridges the one-cell gap


def test_areal_interpolation_rational_ground_truth(spark):
    """Weights are exact cell-count ratios; the aggregated transfer
    matches a Fraction-exact ground truth computed from the engine's
    own rasterization (one float product+sum per target at this size,
    so == holds). Mass is conserved for fully-covered sources."""
    from fractions import Fraction
    d = 360.0 / (1 << 13)
    # source zones: two 8-cell squares side by side, values 100 / 40
    src_rows = [("s0", _sq(0.0, 0.0, 8 * d), 100),
                ("s1", _sq(8 * d, 0.0, 8 * d), 40)]
    # target zoning: one 16-cell-wide strip covering both, split in
    # half vertically at 4 cells — offset zoning, partial overlaps
    dst_rows = [("t0", _sq(0.0, 0.0, 4 * d)),
                ("t1", _sq(4 * d, 0.0, 12 * d))]
    src = fuse.prepare_geoms(
        spark.createDataFrame([(s, w) for s, w, _ in src_rows],
                              "subject string, geom_wkt string"))
    dst = fuse.prepare_geoms(
        spark.createDataFrame(dst_rows, "subject string, geom_wkt string"))
    vals = spark.createDataFrame([(s, v) for s, w, v in src_rows],
                                 "subject string, pop long")
    cells_of = {}
    for name, df in (("src", src), ("dst", dst)):
        for r in joins.rasterize_polygons(df, res=13).collect():
            cells_of.setdefault((name, r["subject"]), set()).add(r["cell"])
    vmap = {s: v for s, _, v in src_rows}
    want = {}
    for (side_d, t), dc in cells_of.items():
        if side_d != "dst":
            continue
        tot = Fraction(0)
        for (side_s, s), sc in cells_of.items():
            if side_s != "src":
                continue
            n_ov = len(sc & dc)
            if n_ov:
                tot += Fraction(vmap[s]) * Fraction(n_ov, len(sc))
        want[t] = tot
    got = {r["dst_subject"]: r["est"]
           for r in joins.areal_interpolate(src.join(vals, "subject"),
                                            dst, "pop", res=13).collect()}
    assert set(got) == {t for t, v in want.items() if v > 0}
    for t, v in got.items():
        # one product or a two-term sum of exact dyadic-safe ratios:
        # compare within one ulp of the rational value
        assert abs(v - float(want[t])) <= 1e-12 * max(1.0, float(want[t]))
    # conservation against the rational total: t0 covers only s0's
    # lower-left quadrant (16 of 64 cells) and no target covers s0's
    # upper-left one, so exactly 100*16/64 = 25 units remain
    # un-transferred — correct semantics for a non-covering target
    # zoning, and the transferred mass matches the rational sum
    assert sum(want.values()) == Fraction(115)
    assert abs(sum(got.values()) - 115.0) <= 1e-9


def test_areal_interpolation_handcase(spark):
    from fagi_spark import cells, joins as J

    # res 5 -> cells 11.25 x 5.625 deg. Square A spans exactly 2x2
    # cell centers; square B overlaps the right half of A (2 cells)
    # plus 2 cells outside A; square C is disjoint.
    res = 5
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)

    def sq(name, x0, y0, nx, ny):
        x1, y1 = x0 + nx * w, y0 + ny * h
        return (name, f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                      f"{x0} {y1}, {x0} {y0}))")

    # snap square corners to cell boundaries -> center-sample count
    # is exactly nx*ny
    x0 = -180.0 + 4 * w
    y0 = -90.0 + 4 * h
    src = fuse.prepare_geoms(spark.createDataFrame(
        [sq("A", x0, y0, 2, 2)], "subject string, geom_wkt string")) \
        .withColumn("pop", F.lit(100).cast("long"))
    dst = fuse.prepare_geoms(spark.createDataFrame(
        [sq("B", x0 + w, y0, 2, 2), sq("C", x0 + 10 * w, y0, 1, 1)],
        "subject string, geom_wkt string"))
    got = {(r.src_subject, r.dst_subject): r for r in
           J.areal_interpolation(src, dst, "pop", res).collect()}
    assert set(got) == {("A", "B")}
    r = got[("A", "B")]
    assert (r.shared_cells, r.src_cells, r.src_value) == (2, 4, 100)
    assert r.est_value == 100.0 * (2.0 / 4.0) == 50.0
    # pair-level transfer agrees with the existing weight matrix
    wts = {(w.src_subject, w.dst_subject): w.w
           for w in J.areal_weights(src, dst, res).collect()}
    assert r.est_value == 100.0 * wts[("A", "B")]


def test_huff_probabilities_handcase(spark):
    from fagi_spark import joins as J

    demand = spark.createDataFrame(
        [("d1", 0.0, 0.0), ("d2", 10.0, 0.0)], "cell string, x double, y double")
    sites = spark.createDataFrame(
        [("s1", 100, 1.0, 0.0),    # d2 from d1: 1
         ("s2", 100, 2.0, 0.0),    # d2 from d1: 4
         ("s3", 400, 10.0, 0.0)],  # coincident with d2 -> excluded there
        "site_id string, attract long, x double, y double")
    got = {(r.cell, r.site_id): r for r in
           J.huff_probabilities(demand, sites).collect()}
    w1, w2 = 100 / 1.0, 100 / 4.0
    w3 = 400 / 100.0
    den = w1 + w2 + w3  # site-sorted fold s1, s2, s3
    assert got[("d1", "s1")].p == w1 / den
    assert got[("d1", "s2")].p == w2 / den
    # stronger pull wins; probabilities sum to 1 per demand point
    assert got[("d1", "s1")].p > got[("d1", "s2")].p
    assert abs(sum(r.p for (c, _), r in got.items() if c == "d1") - 1.0) < 1e-15
    # coincident site excluded for d2, others still score
    assert ("d2", "s3") not in got
    assert ("d2", "s1") in got and ("d2", "s2") in got


def test_segment_intersections_bruteforce(spark):
    """Random-segment parity vs a naive all-pairs reference: same
    pairs, same classification, same exact rational intersection
    points, each pair reported exactly once (PBSM report-once)."""
    import numpy as np
    from fractions import Fraction

    rng = np.random.default_rng(11)

    def mk(n, base):
        rows = []
        for i in range(n):
            x1, y1 = int(rng.integers(0, 150)), int(rng.integers(0, 150))
            dx, dy = int(rng.integers(-10, 11)), int(rng.integers(-10, 11))
            rows.append((f"{base}{i}", x1, y1, x1 + dx, y1 + dy))
        return rows

    A, B = mk(250, "a"), mk(250, "b")

    def naive():
        out = {}
        for asub, ax1, ay1, ax2, ay2 in A:
            if (ax1, ay1) == (ax2, ay2):
                continue
            for bsub, bx1, by1, bx2, by2 in B:
                if (bx1, by1) == (bx2, by2):
                    continue
                rx, ry = ax2 - ax1, ay2 - ay1
                sx, sy = bx2 - bx1, by2 - by1
                d1 = rx * (by1 - ay1) - ry * (bx1 - ax1)
                d2 = rx * (by2 - ay1) - ry * (bx2 - ax1)
                d3 = sx * (ay1 - by1) - sy * (ax1 - bx1)
                d4 = sx * (ay2 - by1) - sy * (ax2 - bx1)
                if d1 == 0 and d2 == 0:
                    if abs(rx) >= abs(ry):
                        spans = (min(ax1, ax2), max(ax1, ax2),
                                 min(bx1, bx2), max(bx1, bx2))
                    else:
                        spans = (min(ay1, ay2), max(ay1, ay2),
                                 min(by1, by2), max(by1, by2))
                    lo = max(spans[0], spans[2])
                    hi = min(spans[1], spans[3])
                    if lo < hi:
                        out[(asub, bsub)] = ("overlap", None, None, None)
                    elif lo == hi:
                        out[(asub, bsub)] = ("touch", None, None, None)
                    continue
                if d1 * d2 <= 0 and d3 * d4 <= 0:
                    if d1 * d2 < 0 and d3 * d4 < 0:
                        den = rx * sy - ry * sx
                        tn = (bx1 - ax1) * sy - (by1 - ay1) * sx
                        assert 0 < Fraction(tn, den) < 1
                        xn = ax1 * den + tn * rx
                        yn = ay1 * den + tn * ry
                        if den < 0:
                            xn, yn, den = -xn, -yn, -den
                        out[(asub, bsub)] = ("proper", xn, yn, den)
                    else:
                        out[(asub, bsub)] = ("touch", None, None, None)
        return out

    ref = naive()
    sa = spark.createDataFrame(
        A, "subject string, x1 long, y1 long, x2 long, y2 long")
    sb = spark.createDataFrame(
        B, "subject string, x1 long, y1 long, x2 long, y2 long")
    got = joins.segment_intersections(sa, sb, cell_w=16).collect()
    gd = {(r.a_subject, r.b_subject): (r.itype, r.ix_num, r.iy_num, r.iden)
          for r in got}
    assert len(got) == len(gd)          # report-once: no duplicate pairs
    assert gd == ref
    kinds = {v[0] for v in ref.values()}
    assert "proper" in kinds and "touch" in kinds


def test_segment_clip_boxes_fraction_reference(spark):
    """Clip parity vs an exact-rational Liang-Barsky reference."""
    import numpy as np
    from fractions import Fraction

    rng = np.random.default_rng(5)
    A = []
    B = []
    for i in range(200):
        x1, y1 = int(rng.integers(0, 120)), int(rng.integers(0, 120))
        dx, dy = int(rng.integers(-10, 11)), int(rng.integers(-10, 11))
        A.append((f"a{i}", x1, y1, x1 + dx, y1 + dy))
    for i in range(120):
        x0, y0 = int(rng.integers(0, 120)), int(rng.integers(0, 120))
        B.append((f"b{i}", x0, y0, x0 + int(rng.integers(1, 9)),
                  y0 + int(rng.integers(1, 9))))

    ref = {}
    for asub, x1, y1, x2, y2 in A:
        if (x1, y1) == (x2, y2):
            continue
        dx, dy = x2 - x1, y2 - y1
        for bsub, xmin, ymin, xmax, ymax in B:
            if dx == 0 and not (xmin <= x1 <= xmax):
                continue
            if dy == 0 and not (ymin <= y1 <= ymax):
                continue
            los, his = [Fraction(0)], [Fraction(1)]
            if dx != 0:
                ts = (Fraction(xmin - x1, dx), Fraction(xmax - x1, dx))
                los.append(min(ts))
                his.append(max(ts))
            if dy != 0:
                ts = (Fraction(ymin - y1, dy), Fraction(ymax - y1, dy))
                los.append(min(ts))
                his.append(max(ts))
            t0, t1 = max(los), min(his)
            if t0 <= t1:
                ref[(asub, bsub)] = (t0, t1,
                                     (t1 - t0) ** 2 * (dx * dx + dy * dy))

    sa = spark.createDataFrame(
        A, "subject string, x1 long, y1 long, x2 long, y2 long")
    sb = spark.createDataFrame(
        B, "subject string, xmin long, ymin long, xmax long, ymax long")
    got = joins.segment_clip_boxes(sa, sb, cell_w=16).collect()
    gd = {}
    for r in got:
        key = (r.a_subject, r.b_subject)
        assert key not in gd            # report-once
        gd[key] = (Fraction(r.t0_num, r.t_den), Fraction(r.t1_num, r.t_den),
                   Fraction(r.len2_num, r.len2_den))
    assert gd == ref


def test_segment_clip_boxes_max_span_guard(spark):
    """ADVICE r4: len2_num overflows int64 past ~1287 grid units of
    per-axis span; the optional max_span filter drops such segments
    explicitly while keeping everything within the bound."""
    A = [("short", 0, 0, 10, 10), ("long", 0, 0, 2000, 1)]
    B = [("box", 0, 0, 4000, 4000)]
    sa = spark.createDataFrame(
        A, "subject string, x1 long, y1 long, x2 long, y2 long")
    sb = spark.createDataFrame(
        B, "subject string, xmin long, ymin long, xmax long, ymax long")
    unguarded = {r.a_subject
                 for r in joins.segment_clip_boxes(sa, sb).collect()}
    assert unguarded == {"short", "long"}
    guarded = {r.a_subject
               for r in joins.segment_clip_boxes(
                   sa, sb, max_span=1287).collect()}
    assert guarded == {"short"}
