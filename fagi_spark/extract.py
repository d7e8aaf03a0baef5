"""Geocoding: web-page text -> geo-entities (the engine's ingest stage).

Re-expresses the reference's geometry discovery (Importer.java:208-216)
over Common-Crawl-style pages: instead of SPARQL scans of RDF graphs, a
single Arrow-vectorized ``mapInArrow`` pass extracts both
serializations from ``text``:

  1. W3C WGS84 lat/long pairs — ``lat <decimal> long <decimal>``
     (Constants.java:40-41 regex analog) -> synthesized ``POINT (lon lat)``
     (Importer.java:316-318);
  2. GeoSPARQL-style inline WKT snippets -> kept verbatim
     (Importer.java:216, asWKT chain).

One geometry per subject is enforced by the reference's type-precedence
table (Constants.java:85-95: MULTIPOLYGON > POLYGON > MULTILINESTRING >
LINESTRING > MULTIPOINT > POINT; dedup loops Importer.java:306-314,
367-378) — here a window ``row_number()``, or per page inside the
kernel (``geocode_pages`` ``dedup_mode``; SURVEY.md §2.1 S5).

Invariant: ``text`` is never modified — the byte-identical-text-per-url
check hashes it at ingest and at output (BASELINE.json input_hint).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import cells, geom

# lat/long pair, reference vocabulary order (lat first)
LATLONG_RE = re.compile(
    r"\blat\w*[\s:=]+(-?\d{1,2}(?:\.\d+)?)[\s,;]+long\w*[\s:=]+(-?\d{1,3}(?:\.\d+)?)",
    re.IGNORECASE)

# balanced-paren WKT snippet, nesting depth <= 3 (MULTIPOLYGON).
# Every quantifier in the paren body is possessive: a balanced body has
# exactly one parse, so giving characters back can never produce a
# match, and unclosed input fails in linear time. Backtracking greedy
# quantifiers nested as ``(?:[^()]*|...)*`` are exponential there
# (0.5 s for "POINT (" + "a"*22, x4 per two more characters), so one
# malformed page could hang a task.
_D1 = r"\([^()]*+\)"
_D2 = rf"\((?:[^()]++|{_D1})*+\)"
_D3 = rf"\((?:[^()]++|{_D2})*+\)"
WKT_RE = re.compile(
    rf"\b(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON)\s*({_D3})")

ENTITY_SCHEMA = ("url string, entity_idx int, source string, geom_wkt string, "
                 "geom_kind string, kind_rank int, npoints int, "
                 "lon double, lat double, xmin double, ymin double, "
                 "xmax double, ymax double")


def _latlong_matches(text: str):
    """Exact twin of ``LATLONG_RE.finditer(text)`` built on C-level
    ``str.find`` candidate location + anchored ``.match``: the regex
    starts with ``\\blat`` but the ``\\b`` assertion blocks sre's
    literal-prefix fast scan (measured 10x: 132 -> 13 ms per 2500
    2.5 KB pages), so we locate 'lat' candidates in a lowercase copy
    and run the full (``\\b``-checking, IGNORECASE) regex anchored at
    each. finditer semantics preserved: candidates inside a previous
    match's span are skipped, matches come out in position order.
    Falls back to finditer when ``str.lower`` changes the string
    length (rare unicode case folds would misalign positions)."""
    low = text.lower()
    if len(low) != len(text):
        return LATLONG_RE.finditer(text)
    out = []
    pos = 0
    while True:
        c = low.find("lat", pos)
        if c < 0:
            break
        m = LATLONG_RE.match(text, c)
        if m is not None:
            out.append(m)
            pos = m.end()
        else:
            pos = c + 1
    return out


def _wkt_matches(text: str):
    """Exact twin of ``WKT_RE.finditer(text)``: the alternation-headed
    type-name group has no literal prefix sre can skip with, so scan
    for the three substrings every WKT type name contains ('POINT',
    'LINESTRING', 'POLYGON' — case-sensitive, as in the regex), add
    the MULTI- start when prefixed, and run the anchored regex at each
    candidate in position order (measured 10x: 144 -> 14 ms per 2500
    pages). ``last_end`` skip preserves finditer's non-overlap rule
    (e.g. the 'POINT' inside an already-matched 'MULTIPOINT (...)')."""
    cands = []
    for kw in ("POINT", "LINESTRING", "POLYGON"):
        p = text.find(kw)
        while p >= 0:
            if p >= 5 and text[p - 5:p] == "MULTI":
                cands.append(p - 5)
            cands.append(p)
            p = text.find(kw, p + 1)
    if not cands:
        return ()
    cands.sort()
    out = []
    last_end = 0
    for c in cands:
        if c < last_end:
            continue
        m = WKT_RE.match(text, c)
        if m is not None:
            out.append(m)
            last_end = m.end()
    return out


def _page_entities(url: str, text: str):
    """One page's entity rows (``ENTITY_SCHEMA`` order) in
    extraction order: in-bounds WGS84 lat/long pairs first, then
    parseable in-bounds WKT snippets (Importer.java's scan order).
    ``entity_idx`` counts kept rows only. The candidate scans are
    C-level ``str.find`` + anchored regex, so a page without any
    keyword costs a few failed finds and no regex scan at all."""
    idx = 0
    for m in _latlong_matches(text):
        la, lo = float(m.group(1)), float(m.group(2))
        if not (-90.0 <= la <= 90.0 and -180.0 <= lo <= 180.0):
            continue
        yield (url, idx, "wgs84", f"POINT ({geom._fmt(lo)} {geom._fmt(la)})",
               "POINT", geom.KIND_RANK["POINT"], 1, lo, la, lo, la, lo, la)
        idx += 1
    for m in _wkt_matches(text):
        s = geom.stats(m.group(0))
        if s is None:
            continue
        kind, rank, np_, cx, cy, x0, y0, x1, y1 = s
        if not (-180.0 <= cx <= 180.0 and -90.0 <= cy <= 90.0):
            continue
        yield (url, idx, "wkt", m.group(0), kind, rank, np_,
               cx, cy, x0, y0, x1, y1)
        idx += 1


def _extract_arrow(batches, carry: tuple[str, ...] = (),
                   dedup_local: bool = False):
    """The mapInArrow kernel: ``_page_entities`` per page, with a
    pyarrow-native batch boundary — typed ``pa.array`` from column
    lists, no pandas DataFrame on either side of the worker. Carry
    columns are gathered by row index with ``take``, so their arrow
    types pass through untouched (timestamps included).

    ``dedup_local`` keeps only each page's precedence winner, the row
    with the smallest (kind_rank, entity_idx): all of a url's entities
    come from this one page row, so the winner is decidable here — no
    window, no shuffle (see geocode_pages)."""
    import pyarrow as pa

    pa_types = {"string": pa.string(), "int": pa.int32(), "double": pa.float64()}
    fields = [f.split() for f in ENTITY_SCHEMA.split(", ")]
    names = [n for n, _ in fields]
    types = [pa_types[t] for _, t in fields]
    ncols = len(names)
    for batch in batches:
        urls = batch.column("url").to_pylist()
        texts = batch.column("text").to_pylist()
        cols = [[] for _ in range(ncols)]
        src_idx = []
        for row_i, (url, text) in enumerate(zip(urls, texts)):
            if text is None:
                continue
            rows = _page_entities(url, text)
            if dedup_local:
                # row = (url, entity_idx, source, wkt, kind, kind_rank, ..)
                best = min(rows, key=lambda r: (r[5], r[1]), default=None)
                rows = () if best is None else (best,)
            for row in rows:
                for i in range(ncols):
                    cols[i].append(row[i])
                src_idx.append(row_i)
        arrays = [pa.array(c, t) for c, t in zip(cols, types)]
        out_names = list(names)
        if carry:
            take = pa.array(src_idx, pa.int64())
            for c in carry:
                arrays.append(batch.column(c).take(take))
                out_names.append(c)
        yield pa.RecordBatch.from_arrays(arrays, names=out_names)


def extract_entities(pages: DataFrame, resolutions=cells.RESOLUTIONS,
                     carry: tuple[str, ...] = (),
                     dedup_local: bool = False) -> DataFrame:
    """pages(url, text, ...) -> one row per extracted geo-entity with
    precomputed geometry stats and multi-resolution cell ids. ``carry``
    names extra page columns replicated onto each entity row (e.g.
    ``warc_ts`` for the streaming path) — the schema extends itself
    from the input types. ``dedup_local`` keeps one precedence winner
    per page row inside the kernel (``geocode_pages(dedup_mode=
    "local")``).

    One ``mapInArrow`` pass (``_extract_arrow``): find-candidate C
    scans plus pyarrow-native batches on both sides of the worker
    pipe. Measured 3x the earlier mapInPandas kernel per batch (323 ->
    108 ms per 2500 2.5 KB pages); a JVM-regex variant measured ~2x
    slower (BENCH/BASELINE.md).
    """
    schema = ENTITY_SCHEMA
    if carry:
        schema += "".join(f", {f.name} {f.dataType.simpleString()}"
                          for f in pages.select(*carry).schema.fields)

    ents = pages.select("url", "text", *carry).mapInArrow(
        lambda batches: _extract_arrow(batches, carry, dedup_local), schema)
    for r in resolutions:
        ents = ents.withColumn(f"cell_r{r}", cells.cell_col(F.col("lon"), F.col("lat"), r))
    return ents


def dedup_by_precedence(entities: DataFrame, subject: str = "url") -> DataFrame:
    """S5: keep one geometry per subject — most complex type wins, ties
    broken by extraction order (Importer.java:306-314 keeps the first
    seen at the winning rank)."""
    w = Window.partitionBy(subject).orderBy(F.col("kind_rank").asc(), F.col("entity_idx").asc())
    return (entities.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def geocode_pages(pages: DataFrame, resolutions=cells.RESOLUTIONS,
                  dedup: bool = True, dedup_mode: str = "window") -> DataFrame:
    """Full ingest: extract + (optional) precedence dedup. Carries no
    ``text`` column — the invariant check re-joins on url against the
    untouched pages table.

    ``dedup_mode``:

    - ``"window"`` (default): the general path — row_number over a
      url window; correct even when a url appears on multiple page
      rows, at the cost of shuffling every entity row. In one local
      JVM the exchange is a cheap in-process fetch, but across REAL
      executors it serializes the whole entity frame over the wire
      (measured on the 4x8-core standalone cluster: the window made
      geocode 13.4s where extraction alone is 3.8s).
    - ``"local"``: the precedence winner is picked INSIDE the Arrow
      extraction kernel — zero shuffle, scales linearly with
      executors. Valid precondition: each url appears on exactly ONE
      page row (the corpus contract after latest-capture compaction;
      every synth/stream corpus here). Row-identical to "window"
      under that precondition (parity-tested)."""
    if dedup_mode not in ("window", "local"):
        raise ValueError(f"dedup_mode must be 'window' or 'local', "
                         f"got {dedup_mode!r}")
    if dedup and dedup_mode == "local":
        return extract_entities(pages, resolutions, dedup_local=True)
    ents = extract_entities(pages, resolutions)
    return dedup_by_precedence(ents) if dedup else ents


def wkt_validity(df: DataFrame, wkt: str = "geom_wkt",
                 subject: str = "subject") -> DataFrame:
    """Scan-time WKT validity gate as a report — the F5
    degenerate-geometry guard (FindLinkServlet.java:198 drops
    oversized geometries silently) generalized to a classified
    inventory a data owner can act on: per subject, which structural
    class its WKT falls in and the vertex count. Pure JVM
    string/regex column ops (patterns restricted to classes where
    Java regex == RE2, the curation-scrub rule), map-only, no parse
    kernel — this runs BEFORE the Arrow parser and keeps malformed
    rows out of it.

    Classes: 'null', 'empty', 'ok_point', 'ok_polygon' (single ring,
    closed, >= 4 vertices), 'unclosed_ring', 'short_ring' (closed
    but < 4 vertices), 'malformed'. Structural check only: coordinate
    arity/numeric sanity for points is enforced by the regex; ring
    vertices are checked for closure and count, not numeric range
    (stated — the parser's job).

    Returns (subject, validity, n_vertices).
    """
    w = F.col(wkt)
    inner = F.regexp_extract(w, r"^POLYGON \(\((.*)\)\)$", 1)
    pts = F.split(inner, ", ")
    n = F.size(pts)
    closed = F.element_at(pts, 1) == F.element_at(pts, -1)
    is_point = w.rlike(r"^POINT \(-?[0-9]+(\.[0-9]+)? -?[0-9]+(\.[0-9]+)?\)$")
    has_ring = inner != ""
    validity = (F.when(w.isNull(), "null")
                 .when(F.trim(w) == "", "empty")
                 .when(is_point, "ok_point")
                 .when(has_ring & closed & (n >= 4), "ok_polygon")
                 .when(has_ring & ~closed, "unclosed_ring")
                 .when(has_ring & closed & (n < 4), "short_ring")
                 .otherwise("malformed"))
    n_vertices = (F.when(is_point, F.lit(1))
                   .when(has_ring, n)
                   .otherwise(F.lit(None)).cast("long"))
    return df.select(F.col(subject), validity.alias("validity"),
                     n_vertices.alias("n_vertices"))


def ring_simple_check(df: DataFrame, wkt: str = "geom_wkt",
                      subject: str = "subject") -> DataFrame:
    """Geometric simplicity check for single-ring POLYGON WKTs on the
    0.01-degree grid: does any pair of NON-ADJACENT ring edges
    intersect (a bowtie / self-crossing ring)? The geometric
    companion to wkt_validity's structural gate — a ring can be
    closed and well-formed yet self-intersecting, and every consumer
    downstream (shoelace area, PIP, rasterize) silently misbehaves
    on such rings.

    All JVM: vertices parse by string split + exact two-decimal
    -> integer-hundredths conversion (round(x*100) — exact for the
    grid convention, contract._fmt2), edges posexplode, non-adjacent
    pairs self-join per subject (j > i+1, excluding the closing
    (first, last) adjacency), and the exact BIGINT segment predicate
    of joins.segment_intersections decides. O(n_edges^2) pairs per
    polygon — bounded by ring size, not corpus size; the self-join
    keys on subject so polygons never shuffle against each other.

    Non-polygon / malformed rows are passed through with NULL
    n_crossings and is_simple (stated — gate with wkt_validity
    first).

    Returns (subject, n_edges, n_crossings, is_simple).
    """
    inner = F.regexp_extract(F.col(wkt), r"^POLYGON \(\((.*)\)\)$", 1)
    base = df.select(F.col(subject).alias("_s"), inner.alias("_in"))
    ok = base.filter(F.col("_in") != "")
    vx = ok.select(
        "_s",
        F.transform(
            F.split("_in", ", "),
            lambda p: F.struct(
                F.round(F.element_at(F.split(p, " "), 1).cast("double")
                        * 100).cast("long").alias("x"),
                F.round(F.element_at(F.split(p, " "), 2).cast("double")
                        * 100).cast("long").alias("y"))).alias("_v"))
    # degenerate 1-vertex rings would hit Spark's DESCENDING
    # sequence(1, 0) -> [1, 0] and fabricate two NULL-endpoint edges;
    # drop them here so malformed rows truly pass through as stated
    vx = vx.filter(F.size("_v") >= 2)
    # edges i = 1..n-1 (vertex i -> i+1); ring closure is the last edge
    edges = vx.select(
        "_s", (F.size("_v") - 1).alias("_ne"),
        F.posexplode(F.expr(
            "transform(sequence(1, size(_v) - 1), i -> named_struct("
            "'x1', _v[i - 1].x, 'y1', _v[i - 1].y, "
            "'x2', _v[i].x, 'y2', _v[i].y))")).alias("_i", "_e"))
    a = edges.select("_s", "_ne", F.col("_i").alias("_ia"),
                     F.col("_e.x1").alias("ax1"), F.col("_e.y1").alias("ay1"),
                     F.col("_e.x2").alias("ax2"), F.col("_e.y2").alias("ay2"))
    b = edges.select(F.col("_s").alias("_s2"), F.col("_i").alias("_ib"),
                     F.col("_e.x1").alias("bx1"), F.col("_e.y1").alias("by1"),
                     F.col("_e.x2").alias("bx2"), F.col("_e.y2").alias("by2"))
    pairs = a.join(b, (F.col("_s") == F.col("_s2"))
                   & (F.col("_ib") > F.col("_ia") + 1)
                   & ~((F.col("_ia") == 0)
                       & (F.col("_ib") == F.col("_ne") - 1)))
    rx, ry = F.col("ax2") - F.col("ax1"), F.col("ay2") - F.col("ay1")
    sx, sy = F.col("bx2") - F.col("bx1"), F.col("by2") - F.col("by1")
    d1 = rx * (F.col("by1") - F.col("ay1")) - ry * (F.col("bx1") - F.col("ax1"))
    d2 = rx * (F.col("by2") - F.col("ay1")) - ry * (F.col("bx2") - F.col("ax1"))
    d3 = sx * (F.col("ay1") - F.col("by1")) - sy * (F.col("ax1") - F.col("bx1"))
    d4 = sx * (F.col("ay2") - F.col("by1")) - sy * (F.col("ax2") - F.col("bx1"))
    collinear = (d1 == 0) & (d2 == 0)
    use_x = F.abs(rx) >= F.abs(ry)
    a_lo = F.when(use_x, F.least("ax1", "ax2")).otherwise(F.least("ay1", "ay2"))
    a_hi = F.when(use_x, F.greatest("ax1", "ax2")).otherwise(F.greatest("ay1", "ay2"))
    b_lo = F.when(use_x, F.least("bx1", "bx2")).otherwise(F.least("by1", "by2"))
    b_hi = F.when(use_x, F.greatest("bx1", "bx2")).otherwise(F.greatest("by1", "by2"))
    col_hit = F.greatest(a_lo, b_lo) <= F.least(a_hi, b_hi)
    hit = F.when(collinear, col_hit).otherwise((d1 * d2 <= 0) & (d3 * d4 <= 0))
    crossings = (pairs.filter(hit).groupBy("_s")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_crossings")))
    per_poly = (edges.groupBy("_s").agg(F.first("_ne").alias("_ne"))
                .join(crossings, "_s", "left")
                .select("_s", F.col("_ne").cast("long").alias("n_edges"),
                        F.coalesce("n_crossings", F.lit(0)).alias("n_crossings"),
                        (F.coalesce("n_crossings", F.lit(0)) == 0)
                        .alias("is_simple")))
    return (base.select("_s").join(per_poly, "_s", "left")
            .select(F.col("_s").alias(subject), "n_edges", "n_crossings",
                    "is_simple"))
