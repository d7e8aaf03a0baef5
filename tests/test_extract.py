"""Geocoding extraction: both serializations, precedence dedup,
byte-identical-text invariant, deterministic synth."""

import random
import re
import time

import pytest
from pyspark.sql import functions as F

from fagi_spark import extract, synth


def test_extract_both_serializations(spark):
    pages = spark.createDataFrame(
        [("u1", "office at lat 42.3601 long -71.0571 downtown"),
         ("u2", "shape POINT (12.5 41.9) here and also lat 1.5 long 2.5"),
         ("u3", "area POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)) registered"),
         ("u4", "no geo content at all"),
         ("u5", "bad lat 999.0 long 10.0 out of range"),
         # out-of-bounds matches interleaved with kept ones; entity_idx
         # counts kept rows only; repr formatting incl. e-notation
         ("u6", "lat 95.5 long 10.0 junk lat 5 long 7 more lat -2.25 "
                "long 181 then lat 0.0000000001 long -0.1234567891"),
         ("u7", None),
         ("u8", ""),
         # lat/long entities come before WKT ones, whatever the position
         ("u9", "MULTIPOINT ((1 2), (3 4)) before lat 1.5 long 2.5")],
        "url string, text string")
    ents = extract.extract_entities(pages, resolutions=(7,)).collect()
    by_url = {}
    for r in ents:
        by_url.setdefault(r.url, []).append(r)
    assert len(by_url["u1"]) == 1 and by_url["u1"][0].geom_kind == "POINT"
    assert by_url["u1"][0].lon == -71.0571 and by_url["u1"][0].lat == 42.3601
    assert {r.source for r in by_url["u2"]} == {"wgs84", "wkt"}
    assert by_url["u3"][0].geom_kind == "POLYGON" and by_url["u3"][0].npoints == 5
    assert not {"u4", "u5", "u7", "u8"} & set(by_url)
    assert {(r.entity_idx, r.geom_wkt) for r in by_url["u6"]} == {
        (0, "POINT (7 5)"), (1, "POINT (-0.1234567891 1e-10)")}
    assert sorted((r.entity_idx, r.source, r.geom_kind, r.geom_wkt)
                  for r in by_url["u9"]) == [
        (0, "wgs84", "POINT", "POINT (2.5 1.5)"),
        (1, "wkt", "MULTIPOINT", "MULTIPOINT ((1 2), (3 4))")]


def test_precedence_dedup_most_complex_wins(spark):
    # Importer.java:306-314 / Constants.java:85-95: POLYGON beats POINT
    pages = spark.createDataFrame(
        [("u1", "lat 5.0 long 5.0 then POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)) end")],
        "url string, text string")
    one = extract.geocode_pages(pages, resolutions=(7,)).collect()
    assert len(one) == 1 and one[0].geom_kind == "POLYGON"


def test_synth_pages_deterministic_across_partitioning(spark):
    a = synth.synth_pages(spark, 200, partitions=2).orderBy("url").collect()
    b = synth.synth_pages(spark, 200, partitions=13).orderBy("url").collect()
    assert a == b
    assert len(a) == 200
    # html wraps text bytes exactly
    for r in a[:20]:
        assert r.html == b"<html><body>" + r.text.encode() + b"</body></html>"


def test_synth_pages_extract_coverage(spark):
    pages = synth.synth_pages(spark, 300, partitions=4)
    ents = extract.extract_entities(pages, resolutions=(7,))
    n_urls = ents.select("url").distinct().count()
    assert n_urls == 300  # every page has >= 1 extractable entity
    kinds = {r.geom_kind for r in ents.select("geom_kind").distinct().collect()}
    assert "POINT" in kinds and "POLYGON" in kinds


def test_text_byte_identical_invariant(spark):
    """BASELINE.json input_hint: extracted text stays byte-identical per
    url through the pipeline — the pipeline never rewrites pages; verify
    hash-at-ingest == hash-after-geocode-join."""
    pages = synth.synth_pages(spark, 100, partitions=3).cache()
    ingest_hash = pages.select("url", F.sha2(F.col("text"), 256).alias("h0"))
    ents = extract.geocode_pages(pages, resolutions=(7,))
    after = (ents.join(pages, "url")
             .select("url", F.sha2(F.col("text"), 256).alias("h1")))
    bad = ingest_hash.join(after, "url").filter(F.col("h0") != F.col("h1")).count()
    assert bad == 0
    pages.unpersist()


def test_synth_pages_partition_independent(spark):
    """synth docstring claim: generation is identical under any
    partitioning (splitmix64 of row id, not a sequential RNG)."""
    from fagi_spark import synth

    a = synth.synth_pages(spark, 500, partitions=2).collect()
    b = synth.synth_pages(spark, 500, partitions=17).collect()
    ka = sorted((r["url"], r["text"], r["lang"], r["warc_ts"]) for r in a)
    kb = sorted((r["url"], r["text"], r["lang"], r["warc_ts"]) for r in b)
    assert ka == kb


def test_geocode_local_dedup_matches_window(spark):
    """dedup_mode='local' (winner picked inside the Arrow kernel, zero
    shuffle) is row-identical to the window path on a unique-url corpus
    — and its plan really has no exchange."""
    from fagi_spark import extract, synth
    pages = synth.synth_pages(spark, 400, partitions=8)
    cols = ["url", "entity_idx", "source", "geom_wkt", "geom_kind"]
    win = extract.geocode_pages(pages).select(*cols)
    loc = extract.geocode_pages(pages, dedup_mode="local").select(*cols)
    assert loc.count() == win.count() > 0
    assert loc.exceptAll(win).count() == 0
    plan = loc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    win_plan = extract.geocode_pages(pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" in win_plan  # the cost local mode removes
    # carry columns ride along the in-kernel winner (timestamps pass
    # through the kernel's take()) exactly as through the window
    carry = ("warc_ts",)
    loc_c = extract.extract_entities(pages, carry=carry, dedup_local=True)
    win_c = extract.dedup_by_precedence(
        extract.extract_entities(pages, carry=carry))
    assert loc_c.schema == win_c.schema
    assert loc_c.count() == win_c.count() == 400
    assert loc_c.exceptAll(win_c).count() == 0
    # a misspelt mode fails at the driver instead of silently windowing
    with pytest.raises(ValueError, match="dedup_mode"):
        extract.geocode_pages(pages, dedup_mode="locl")


def test_wkt_validity_classes(spark):
    from fagi_spark import extract as ex

    rows = [
        ("s1", "POINT (1.50 2.25)"),
        ("s2", "POINT (-3 4)"),
        ("s3", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
        ("s4", "POLYGON ((0 0, 4 0, 4 4, 0 4))"),     # unclosed
        ("s5", "POLYGON ((1 1, 1 1))"),               # short ring
        ("s6", "POINT (1.5)"),                         # bad arity
        ("s7", "LINESTRING (0 0, 1 1)"),               # unsupported here
        ("s8", ""),
        ("s9", None),
        ("s10", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0"),  # truncated
    ]
    df = spark.createDataFrame(rows, "subject string, geom_wkt string")
    got = {r.subject: (r.validity, r.n_vertices)
           for r in ex.wkt_validity(df).collect()}
    assert got == {
        "s1": ("ok_point", 1), "s2": ("ok_point", 1),
        "s3": ("ok_polygon", 5), "s4": ("unclosed_ring", 4),
        "s5": ("short_ring", 2), "s6": ("malformed", None),
        "s7": ("malformed", None), "s8": ("empty", None),
        "s9": ("null", None), "s10": ("malformed", None),
    }


def test_ring_simple_check_bowtie(spark):
    from fagi_spark import extract as ex

    rows = [
        ("sq", "POLYGON ((0.00 0.00, 4.00 0.00, 4.00 4.00, 0.00 4.00, 0.00 0.00))"),
        # bowtie: diagonals cross once
        ("bow", "POLYGON ((0.00 0.00, 4.00 4.00, 4.00 0.00, 0.00 4.00, 0.00 0.00))"),
        ("tri", "POLYGON ((0.00 0.00, 2.00 0.00, 1.00 2.00, 0.00 0.00))"),
        ("pt", "POINT (1.00 1.00)"),
    ]
    df = spark.createDataFrame(rows, "subject string, geom_wkt string")
    got = {r.subject: (r.n_edges, r.n_crossings, r.is_simple)
           for r in ex.ring_simple_check(df).collect()}
    assert got["sq"] == (4, 0, True)
    assert got["bow"] == (4, 1, False)
    assert got["tri"] == (3, 0, True)
    # non-polygon rows pass through with NULLs (stated)
    assert got["pt"] == (None, None, None)


def test_ring_simple_check_degenerate_one_vertex(spark):
    """ADVICE r4: a 1-vertex 'ring' must pass through with NULLs, not
    hit Spark's descending sequence(1, 0) and fabricate two
    NULL-endpoint edges."""
    from fagi_spark import extract as ex
    rows = [("one", "POLYGON ((3.0 4.0))"),
            ("sq", "POLYGON ((0 0, 1 0, 1 1, 0 0))")]
    df = spark.createDataFrame(rows, "subject string, geom_wkt string")
    got = {r.subject: (r.n_edges, r.n_crossings, r.is_simple)
           for r in ex.ring_simple_check(df).collect()}
    assert got["one"] == (None, None, None)
    assert got["sq"] == (3, 0, True)


def test_fast_scans_match_finditer():
    """_latlong_matches/_wkt_matches are exact finditer twins on
    adversarial strings: MULTI- prefixes, keywords inside matched
    spans, case variants, word-boundary fakes, unicode neighbors, and
    the length-changing-lower() fallback."""
    from fagi_spark import extract as ex
    cases = [
        "lat 1 long 2 lat 3 long 4",
        "LAT 1 LONG 2 Latitude: 5, Longitude: 6",
        "flat 1 long 2 splat 3 long 4 lat 5 long 6",   # \b fakes
        "xlat 1 long 2",                                # no \b
        "lat9 1 long 2",                                # \w* eats digit? no sep
        "MULTIPOINT ((1 2), (3 4)) POINT (5 6)",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0))) POLYGON ((2 2, 3 2, 3 3, 2 2))",
        "aMULTIPOINT ((1 2)) aPOINT (3 4)",             # \b fails on both
        "LINESTRING (0 0, 1 1) MULTILINESTRING ((0 0, 1 1))",
        "POINT(1 2)POINT (3 4)",                        # adjacency
        "ILATIlat 7 long 8",
        "İlat 1 long 2 lat 3 long 4",  # 'İ'.lower() adds a combining char
        "no geo at all", "", "POINT", "POLYGON ((", "lat long lat 1 long 2",
    ]
    for t in cases:
        a = [(m.start(), m.end(), m.groups()) for m in ex.LATLONG_RE.finditer(t)]
        b = [(m.start(), m.end(), m.groups()) for m in ex._latlong_matches(t)]
        assert a == b, (t, a, b)
        aw = [(m.start(), m.end(), m.group(0)) for m in ex.WKT_RE.finditer(t)]
        bw = [(m.start(), m.end(), m.group(0)) for m in ex._wkt_matches(t)]
        assert aw == bw, (t, aw, bw)


# WKT_RE's paren body before its quantifiers were made possessive: the
# reference for the linear-time pattern (same language, same matches)
_OLD_WKT_RE = re.compile(
    r"\b(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON)"
    r"\s*(\((?:[^()]*|\((?:[^()]*|\([^()]*\))*\))*\))")


def _fuzz_wkt(rng):
    """1-2 keyword + balanced-paren snippets of depth 1-4 (4 is past
    WKT_RE's limit), then 0-2 random truncations / stray parens /
    deletions."""
    def group(depth):
        if depth == 1:
            return f"({rng.randint(-9, 9)} {rng.randint(0, 9)})"
        return "(" + ", ".join(group(depth - 1)
                               for _ in range(rng.randint(1, 3))) + ")"

    s = "".join(rng.choice(["", " ", "a"])
                + rng.choice(["POINT", "LINESTRING", "POLYGON", "MULTI",
                              "MULTIPOINT", "MULTILINESTRING",
                              "MULTIPOLYGON"])
                + rng.choice(["", " "]) + group(rng.randint(1, 4))
                for _ in range(rng.randint(1, 2)))
    for _ in range(rng.randint(0, 2)):
        i = rng.randrange(len(s) + 1)
        op = rng.randrange(3)
        s = (s[:i] if op == 0 else s[:i] + rng.choice("()") + s[i:]
             if op == 1 else s[:i] + s[i + 1:])
    return s


def test_wkt_re_possessive_matches_old_pattern():
    """The possessive paren body matches exactly what the old greedy
    one did: same finditer spans and groups (and _wkt_matches agrees)
    on a seeded fuzz of keywords, nested parens and coordinates, both
    balanced and broken. The old pattern's cost is the product of the
    ways to split every non-paren run inside an unclosed body, so the
    fuzz keeps the runs short: sum(len(run) - 1) <= 16 per case."""
    rng = random.Random(20241)
    n = n_matches = 0
    while n < 20000:
        s = _fuzz_wkt(rng)
        if sum(max(len(r) - 1, 0) for r in re.split(r"[()]", s)) > 16:
            continue
        n += 1
        old = [(m.span(), m.groups()) for m in _OLD_WKT_RE.finditer(s)]
        new = [(m.span(), m.groups()) for m in extract.WKT_RE.finditer(s)]
        fast = [(m.span(), m.groups()) for m in extract._wkt_matches(s)]
        assert old == new == fast, (s, old, new, fast)
        n_matches += len(old)
    assert n_matches > 2000  # the fuzz really exercises matches


def test_wkt_scan_unclosed_input_is_fast():
    """Unclosed WKT fails in linear time: the old nested-quantifier
    body backtracked exponentially (516 ms at 22 filler characters, x4
    per two more), so neither page below would finish with it."""
    for text in ("POINT (" + "a" * 60,
                 "POLYGON ((1 1, 2 2" + " 3" * 10**5):
        t0 = time.perf_counter()
        assert extract._wkt_matches(text) == []
        assert time.perf_counter() - t0 < 2.0
