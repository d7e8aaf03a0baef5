"""Dump physical plans of the headline operators -> PLANS.md.

For each headline query: capture ``explain("formatted")``, check the
plan features that matter at 100 TB (filter/column pushdown into the
parquet scan, broadcast joins for dim tables, whole-stage codegen
spans, partial aggregation), and write a reviewed summary. Run after
plan-affecting changes:

    python tools/explain_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fagi_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

CHECKS = {
    "pushed_filters": "PushedFilters: [",
    "broadcast_join": "BroadcastHashJoin",
    "codegen": "codegen id :",
    "partial_agg": "HashAggregate",
    "window_group_limit": "WindowGroupLimit",
    "left_semi_prune": "LeftSemi BuildRight",
    "sort_merge_join": "SortMergeJoin",
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = get_spark("plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    from fagi_spark import contract, extract, fuse, joins, synth, textops

    sections = []

    def add(name, df, want, note):
        text = plan_text(df)
        have = {k: (CHECKS[k] in text) for k in want}
        sections.append((name, note, want, have, text))

    # 1. flagship links |><| A |><| B join
    links, ga, gb = contract._fagi_inputs(spark, SF)
    add("flagship_join (J2)", fuse.resolve_links(links, ga, gb),
        ["broadcast_join"],
        "links and both geometry sides derive from one parquet scan of "
        "customer; the three-way equi-join stays in codegen. On real "
        "inputs the links side broadcasts (small) — here all sides share "
        "one scan so Spark reuses the exchange instead.")

    # 1b. LATE_FETCH: semi-join prune BEFORE the Arrow WKT kernel
    cust_lf = spark.read.parquet(f"{SF}/customer.parquet")
    key = F.col("c_custkey")
    raw_a = cust_lf.select(
        F.concat(F.lit("way"), key.cast("string")).alias("subject"),
        contract._point_wkt(key * 37 % 17000, key * 53 % 8000).alias("geom_wkt"))
    raw_b = cust_lf.select(
        F.concat(F.lit("place"), key.cast("string")).alias("subject"),
        contract._point_wkt(key * 37 % 17000 + 1, key * 53 % 8000 + 1).alias("geom_wkt"))
    sparse = cust_lf.filter(key % 100 == 0).select(
        F.concat(F.lit("way"), key.cast("string")).alias("node_a"),
        F.concat(F.lit("place"), key.cast("string")).alias("node_b"))
    lf_plan = fuse.resolve_links(sparse, raw_a, raw_b, late_fetch=True)
    lf_text = plan_text(lf_plan)
    # the structural guarantee: every Arrow WKT-stats eval sits ABOVE a
    # LeftSemi prune in the tree — raw geometries are filtered to
    # link-referenced subjects before any parse
    arrow_first = lf_text.find("ArrowEvalPython")
    semi_first = lf_text.find("LeftSemi")
    if not (0 <= arrow_first < semi_first):
        # enforced, not just narrated: formatted plans print parents
        # before children, so the Arrow eval must appear before (above)
        # the semi prune or the LATE_FETCH structure has regressed
        raise SystemExit(
            f"LATE_FETCH structural check failed: ArrowEvalPython@"
            f"{arrow_first} vs LeftSemi@{semi_first}")
    add("flagship_join LATE_FETCH (J2, Constants.java:19)", lf_plan,
        ["left_semi_prune", "broadcast_join"],
        "the reference's flagship optimization: both RAW-WKT geometry "
        "sides are LeftSemi-pruned against the (broadcast, distinct) "
        "link-subject sets BEFORE prepare_geoms' Arrow WKT-stats "
        "kernel, so only referenced geometries pay the Python parse "
        "(verified structurally: ArrowEvalPython appears above the "
        f"LeftSemi prune in the tree — arrow@{arrow_first} semi@"
        f"{semi_first}). Measured nuance (r3): in the fused LAZY plan "
        "Catalyst subsumes this on its own — ExtractPythonUDFs defers "
        "the Arrow eval past the links join, so the explicit prune "
        "pays off on the MATERIALIZATION path (building/persisting the "
        "parsed gazetteer: bench.py gazetteer_parse_full vs "
        "gazetteer_parse_late_fetch, ~6.5x at 1% link coverage) and "
        "for shrinking a non-broadcast join's exchange at scale.")

    # 2. parquet pushdown: bbox viewport over raw parquet
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    pts = cust.select(F.col("c_custkey").alias("subject"),
                      ((F.col("c_custkey") * 37 % 17000) / 100.0).alias("cx"),
                      ((F.col("c_custkey") * 53 % 8000) / 100.0).alias("cy"))
    add("bbox_viewport scan pushdown (F4)",
        cust.filter(F.col("c_acctbal") > 0).select("c_custkey", "c_acctbal"),
        ["pushed_filters"],
        "predicate + projection reach the parquet reader (PushedFilters "
        "+ ReadSchema) — the viewport prefilter at 100 TB is a partition "
        "prune plus this row-group pushdown, never a full scan.")

    # 3. radius join: build-side ring expansion into a broadcast
    b = fuse.prepare_geoms(contract.geo_b_df(cust)).persist()
    b.count()
    add("radius_join (J4, build-side ring)",
        joins.radius_join(pts, b, 3000.0, width_guard_deg=1e9),
        ["broadcast_join", "codegen"],
        "the exploded gazetteer ring lands in the broadcast hash table; "
        "the probe side is never replicated. One narrow probe projection "
        "-> BroadcastHashJoin -> distance filter, all one codegen span.")

    # 3a'. salted radius join under deliberate skew: the salt must be
    # IN the shuffle-join keys (that is the whole mechanism — the hot
    # cell's candidate-pair work shards across n_salts reducers)
    import bench as _bench
    sk_a = _bench._skewed_points(spark, 50_000, 8_000, "a")
    sk_b = _bench._skewed_points(spark, 150_000, 8_000, "b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    salted_plan = joins.radius_join(sk_a, sk_b, 200.0, n_salts=8,
                                    expand_side="probe")
    salted_text = plan_text(salted_plan)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    key_lines = [l for l in salted_text.splitlines()
                 if l.strip().startswith(("Left keys", "Right keys"))]
    if len(key_lines) < 2 or not all("salt#" in l for l in key_lines):
        raise SystemExit("salted radius_join: salt column missing from "
                         f"the join keys: {key_lines}")
    # (no "codegen" want here: broadcast disabled means the plan is an
    # AQE non-final SortMergeJoin, and Spark assigns codegen ids only
    # to finalized stages — the marker is structurally absent, not a
    # property of this plan's quality)
    add("radius_join_skewed salted (J4 + SURVEY §7.4 skew)", salted_plan,
        ["sort_merge_join"],
        "one 'city' cell holds 16% of the probe side; broadcast "
        "disabled (a dense-region gazetteer shard does not broadcast "
        "at warehouse scale). The salt is verified to sit INSIDE both "
        f"shuffle-join key lists ({key_lines[0].strip()!r}) so the hot "
        "cell's candidate-pair blowup shards across 8 reducers. AQE's "
        "skew-join split cannot do this: it triggers on partition "
        "BYTES (default 256 MB) and the hot partition is ~1 MB of "
        "input rows — the quadratic cost only materializes inside the "
        "join. Measured contrast: bench.py radius_join_skew_unsalted "
        "vs radius_join_skew_salted (skew_salted_speedup in the "
        "bench JSON).")

    # 3b. general ST_Intersects join: PBSM cell equi-join, no cartesian
    pa = fuse.prepare_geoms(ga).filter(F.col("geom_kind") == "POLYGON")
    pb = fuse.prepare_geoms(gb).filter(F.col("geom_kind") == "POLYGON")
    ij_plan = joins.intersects_join(pa, pb)
    ij_text = plan_text(ij_plan)
    if "CartesianProduct" in ij_text or "BroadcastNestedLoop" in ij_text:
        raise SystemExit("intersects_join: candidate stage degenerated "
                         "to a cartesian/nested-loop join")
    # exactly one Arrow refine stage (the prepare_geoms WKT-stats
    # ArrowEvalPython on each input side is expected and separate);
    # formatted plans print each node twice (tree + detail), so count
    # the detail-section headers only
    import re as _re

    def count_nodes(text, node):
        return len(_re.findall(rf"^\(\d+\) {node}\b", text, _re.M))

    def one_refine(name, text):
        n_mip = count_nodes(text, "MapInPandas")
        if n_mip != 1:
            raise SystemExit(f"{name}: expected exactly one MapInPandas "
                             f"exact-refine stage, got {n_mip}")

    one_refine("intersects_join", ij_text)
    add("intersects_join (J6b, PBSM)", ij_plan,
        ["codegen"],
        "both polygon sides explode their envelope cell ranges and "
        "equi-join on (pix, piy) — never a cartesian (enforced "
        "structurally above); the closed envelope-overlap prefilter "
        "and the reference-point report-once predicate are codegen'd "
        "into the join's post-condition, so each surviving pair "
        "reaches the single MapInPandas exact-refine stage exactly "
        "once with no DISTINCT shuffle.")

    # 3c. ST_DWithin join: same PBSM discipline with padded envelopes
    dw_plan = joins.dwithin_join(fuse.prepare_geoms(ga),
                                 fuse.prepare_geoms(gb), 2000.0)
    dw_text = plan_text(dw_plan)
    if "CartesianProduct" in dw_text or "BroadcastNestedLoop" in dw_text:
        raise SystemExit("dwithin_join: candidate stage degenerated "
                         "to a cartesian/nested-loop join")
    one_refine("dwithin_join", dw_text)
    add("dwithin_join (J6c, PBSM + padded envelopes)", dw_plan,
        ["codegen"],
        "the A side pads its envelope by the radius before exploding "
        "cell ranges; the separating-gap prefilter (GREATEST(0,gap)^2 "
        "sum vs radius^2) and report-once predicate are codegen'd; "
        "only true near-pairs reach the single MapInPandas exact "
        "min-distance refine stage. No cartesian, one refine stage "
        "(both enforced structurally).")

    # 4. precedence dedup: WindowGroupLimit partial before the shuffle
    pages = synth.synth_pages(spark, 2000)
    ents = extract.extract_entities(pages)
    add("precedence_dedup (S5)", extract.dedup_by_precedence(ents),
        ["window_group_limit"],
        "row_number()=1 compiles to WindowGroupLimit with a Partial pass "
        "before the exchange — only per-partition winners shuffle, not "
        "every extracted entity.")

    # 4b. geocode: ONE mapInArrow extraction kernel in both dedup
    # modes; the in-kernel precedence winner ("local") never shuffles.
    # Nodes are counted above the input's own plan (synth_pages is
    # itself a MapInPandas generator).
    pages_text = plan_text(pages)
    for mode in ("window", "local"):
        gc_plan = extract.geocode_pages(pages, dedup_mode=mode)
        gc_text = plan_text(gc_plan)
        n_arrow = (count_nodes(gc_text, "MapInArrow")
                   - count_nodes(pages_text, "MapInArrow"))
        n_pandas = (count_nodes(gc_text, "MapInPandas")
                    - count_nodes(pages_text, "MapInPandas"))
        if n_arrow != 1 or n_pandas != 0:
            raise SystemExit(
                f"geocode_pages({mode!r}) structural check failed: "
                f"{n_arrow} MapInArrow / {n_pandas} MapInPandas nodes, "
                "expected exactly one mapInArrow kernel")
        n_ex = count_nodes(gc_text, r"\w*Exchange")
        if mode == "local" and n_ex:
            raise SystemExit(
                f"geocode_pages('local') structural check failed: "
                f"{n_ex} Exchange nodes, expected none")
        add(f"geocode_pages dedup_mode={mode!r} (S5, one kernel)", gc_plan,
            ["window_group_limit"] if mode == "window" else [],
            "exactly one MapInArrow extraction node and no MapInPandas "
            "above the input's own plan (enforced structurally). "
            + ("The precedence window follows the kernel: WindowGroupLimit "
               "partial pass, then one exchange on url."
               if mode == "window" else
               "The precedence winner is picked per page inside the "
               "kernel, so the plan has no Exchange at all (enforced)."))

    # 5. exact dedup: partial aggregation
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    add("exact_dedup (hash-groupBy)", textops.dedup_exact(docs),
        ["partial_agg"],
        "map-side partial_min on the content hash (only one (hash, "
        "min_key) row per partition shuffles), broadcast LEFT SEMI back "
        "onto the corpus. The agg branch's scan is pruned to "
        "(doc_id, text) — two scans beats shuffling full documents.")

    # 5b. curation: per-domain cap + decontamination + boilerplate strip
    from fagi_spark import curation
    add("domain_cap (curation)", curation.domain_cap(docs, k=5),
        ["window_group_limit"],
        "row_number<=k compiles to WindowGroupLimit: each map task "
        "forwards at most k rows per domain into the shuffle, so a "
        "host with 10^9 pages moves k rows per input partition, not "
        "10^9 — the cap never materializes the full domain.")
    ev = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias("text"))
    add("decontaminate (curation)", curation.decontaminate(docs, ev, n=8),
        ["broadcast_join", "partial_agg"],
        "the distinct eval-shingle set (benchmark-sized) broadcasts; "
        "the corpus side streams its exploded distinct shingles "
        "map-only through the BroadcastHashJoin, and only matched "
        "(doc, shingle) pairs — a tiny fraction — reach the "
        "count-distinct shuffle. No all-pairs comparison anywhere.")
    add("strip_boilerplate (curation)", curation.strip_boilerplate(docs),
        ["broadcast_join", "partial_agg"],
        "the high-document-frequency line set is small by construction "
        "(only lines repeated across >max_docs docs), so the LeftAnti "
        "join against it broadcasts; the corpus pays one explode + the "
        "line-frequency partial aggregate + one per-doc regroup — "
        "document text never shuffles twice.")

    # 6. minhash signatures: explode + partial MIN aggs
    add("minhash_signatures", textops.minhash_signatures(docs),
        ["partial_agg"],
        "explode-shingles feeds 32 MIN aggregates with map-side combine "
        "— one narrow shuffle keyed on doc_id; document length never "
        "hits the shuffle.")

    # 7. discovery pre-scoring frame: TF window + per-pair literal concat
    add("discover_candidates (§2.7 pre-scoring)",
        contract.q_discover_candidates(spark, SF),
        ["partial_agg", "codegen"],
        "radius candidates (broadcast ring join) -> TF-unique window "
        "partitioned on (a_subject, object) -> sorted-concat groupBy: "
        "the window and both aggregations share the a_subject shuffle "
        "key family; literals are filtered JVM-side before any shuffle.")

    # 8. chain-selected metadata keep: bounded self-join tower, lazy
    add("metadata chain keep (§2.6)",
        contract.q_metadata_chain_keep(spark, SF),
        ["broadcast_join", "partial_agg"],
        "depth-bounded (<=6) self-join tower built as ONE lazy plan "
        "(no per-level driver jobs); the links side broadcasts; the "
        "pattern inventory DISTINCT is schema-sized; the final "
        "distinct (partial HashAggregate) is the only wide shuffle. "
        "The hops array-of-struct Generate keeps this subtree out of "
        "whole-stage codegen — expressions still evaluate JVM-side "
        "(no Python anywhere in the plan).")

    # 9. fixed-quantizer IVF: cell equi-join + window top-k
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    from fagi_spark import vector
    add("ivf_fixed_topk (ANN scale shape)",
        vector.ivf_fixed_topk(emb.filter(F.col("vec_id") < 5), emb,
                              contract._IVF_FIXED_CENTROIDS, k=5),
        ["window_group_limit", "broadcast_join"],
        "centroid assignment is column math (higher-order aggregate/"
        "zip_with lambdas — evaluated JVM-side but not whole-stage-"
        "fused, a known Spark limitation for HOFs; still no Python); "
        "the search is a cell equi-join (never all-pairs; the 5-row "
        "query side broadcasts) and the top-k window compiles to "
        "WindowGroupLimit — per-partition winners only hit the final "
        "shuffle.")

    # 9b. IVF-PQ: cell equi-join + ADC from codes alone
    add("ivfpq_fixed_topk (ANN compressed-domain search)",
        vector.ivfpq_fixed_topk(emb.filter(F.col("vec_id") < 5), emb,
                                contract._IVF_FIXED_CENTROIDS,
                                contract._PQ_CODEBOOKS, k=5),
        ["window_group_limit", "broadcast_join"],
        "the corpus embeddings are read ONCE (cell assignment + PQ "
        "encode in the same map stage — 4-byte codes replace 64 "
        "floats); candidates come from the coarse-cell equi-join and "
        "are scored by asymmetric distance against the codes, never "
        "touching the original vectors again. The top-k window "
        "compiles to WindowGroupLimit. At 10^12 vectors this is the "
        "only layout whose working set fits a cluster.")

    # 9c. as-of join + interval range join over events
    from fagi_spark import contract as _c
    asof_plan = _c.q_events_asof_join(spark, SF)
    add("asof_join (events, union-merge)", asof_plan, ["partial_agg"],
        "no native as-of join in Spark: both sides tag-union, shuffle "
        "ONCE on the key, and a running last(version, ignorenulls) "
        "window carries the latest at-or-before version onto each "
        "event — never a per-row range probe, never a cross join; the "
        "window sort rides the union's key partitioning.")
    range_plan = _c.q_events_range_join(spark, SF)
    range_text = plan_text(range_plan)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if bad in range_text:
            raise SystemExit(
                f"range_join structural check failed: {bad} in plan — "
                "the bucket equi-join has degenerated to a cross product")
    add("interval_range_join (events, time buckets)", range_plan,
        ["broadcast_join"],
        "intervals explode to the coarse time buckets they span and "
        "the join is an EQUI-join on the bucket (structurally "
        "enforced here: no CartesianProduct / BroadcastNestedLoopJoin "
        "in the plan; the small exploded interval side broadcasts) "
        "with the exact start<=ts<end predicate as a post-filter — "
        "the 1-D twin of the spatial cell join.")

    # 10b. tile pyramid: one scan, one shuffle across all zoom levels
    pyr_pts = pts.select("subject", F.col("cx").alias("lon"),
                         F.col("cy").alias("lat"))
    from fagi_spark import cells as _cells
    pyr_plan = _cells.tile_pyramid(pyr_pts, 13, (10, 7))
    pyr_text = plan_text(pyr_plan)
    import re as _re
    # count scan operators in the details listing only ("(N) Scan ...");
    # the tree rendering above it would double-count each one
    n_scans = len(_re.findall(r"^\(\d+\) Scan ", pyr_text, _re.M))
    if n_scans != 1:
        raise SystemExit(
            f"tile_pyramid structural check failed: {n_scans} input scans "
            "(must be exactly 1 — the union-of-rollups shape rescans the "
            "input per level)")
    add("tile_pyramid (multi-resolution rollup)", pyr_plan,
        ["partial_agg"],
        "every point explodes into its (res, cell) pair per zoom level "
        "(coarser cells are integer shifts of the base indices, computed "
        "once) and ONE groupBy(res, cell) with map-side combine collapses "
        "each map partition to at most one row per touched cell before "
        "the single exchange. Structurally enforced here: exactly one "
        "input scan — the union-of-per-level-rollups alternative plans "
        "as three scans because static exchange reuse does not dedupe "
        "union branches.")

    # 10. connected components: one large-star round over LSH edges
    from fagi_spark import components
    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200)], "id_a long, id_b long")
    add("connected_components round (large-star)",
        components._large_star(components._canon_edges(edges, "id_a", "id_b")),
        ["partial_agg"],
        "one alternating-star round = a per-node MIN aggregate "
        "(map-side partial, one shuffle on node id) + an equi-join of "
        "the mins back onto the adjacency — no Python anywhere, no "
        "driver-side edge materialization; the driver loop only "
        "compares two scalar aggregates per round and localCheckpoints "
        "to cut lineage. O(log^2 n) rounds regardless of component "
        "diameter (Kiveris et al., SoCC 2014), so a 10M-long mirror "
        "chain costs ~25 rounds, not 10M.")

    # 11. bucketed co-located join: the ingest-time layout that removes
    # the conflation join's shuffle entirely
    import tempfile
    from fagi_spark import io as fio
    bdir = tempfile.mkdtemp(prefix="plans_buckets_")
    ents_b = spark.range(0, 5000).select(
        F.col("id").alias("subject"), (F.col("id") % 97).alias("cell"))
    gaz_b = spark.range(0, 800).select(
        F.col("id").alias("place"), (F.col("id") % 97).alias("cell"))
    fio.write_bucketed(ents_b, "plans_ents_b", f"{bdir}/ents", "cell", 8)
    fio.write_bucketed(gaz_b, "plans_gaz_b", f"{bdir}/gaz", "cell", 8)
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bjoin = fio.read_bucketed(spark, "plans_ents_b").join(
        fio.read_bucketed(spark, "plans_gaz_b"), "cell")
    bjoin_text = plan_text(bjoin)
    if "Exchange" in bjoin_text:
        raise SystemExit("bucketed join regression: Exchange in plan")
    add("bucketed co-located join (ingest layout)", bjoin,
        ["sort_merge_join"],
        "both sides written with write_bucketed(cell) — Spark's native "
        "bucketing. The SortMergeJoin has NO Exchange on either side "
        "(enforced structurally above) and no extra Sort (bucket files "
        "are key-sorted): bucket i zips with bucket i per task. At "
        "10^12 rows this turns the conflation join's dominant shuffle "
        "into a one-time ingest cost that every later join (discovery, "
        "fusion re-runs, incremental conflation) reuses — the Spark "
        "analog of the reference CLUSTERing both PostGIS tables "
        "(schema.sql:38-39, 66-67).")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
    spark.sql("DROP TABLE IF EXISTS plans_ents_b")
    spark.sql("DROP TABLE IF EXISTS plans_gaz_b")

    # 11b. incremental near-dup probe: only the increment pays
    # shingling — structurally enforced: exactly one Generate (the
    # increment's shingle explode); the index side is a plain scan
    import tempfile as _tf
    idx_dir = _tf.mkdtemp(prefix="plans_mh_idx_")
    textops.minhash_bands(docs).write.parquet(f"{idx_dir}/bands")
    idx = spark.read.parquet(f"{idx_dir}/bands")
    inc = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    probe_plan = textops.minhash_probe(inc, idx)
    probe_text = plan_text(probe_plan)
    n_gen = len(_re.findall(r"^\(\d+\) Generate", probe_text, _re.M))
    n_scan = len(_re.findall(r"^\(\d+\) Scan parquet", probe_text, _re.M))
    if n_gen != 0 or n_scan != 1:
        raise SystemExit(
            f"minhash_probe structural check failed: {n_gen} Generate / "
            f"{n_scan} parquet scans (want 0/1 — the increment's "
            "shingle+band explodes are materialized ONCE up front and "
            "the stored index must be read as-is, never re-shingled)")
    add("minhash_probe (incremental near-dup)", probe_plan,
        [],
        "the committed band index is read as-is (exactly one parquet "
        "scan, structurally enforced) and the probe plan contains ZERO "
        "Generate operators: the increment's shingle/band explodes run "
        "once into a materialized increment-sized frame (a lazy plan "
        "would shingle the increment twice — union branches do not "
        "reuse exchanges, the tile_pyramid finding). A 100 TB corpus "
        "is never re-shingled to dedup a 1 TB daily increment; "
        "bucketing the stored index on band_hash (io.write_bucketed) "
        "additionally removes its side of the join shuffle.")

    # 12. duplicate spans: corpus-wide k-gram count + per-doc run merge
    add("duplicate_spans (ExactSubstr dedup)",
        textops.duplicate_spans(docs, k=8),
        ["partial_agg"],
        "the k-gram posexplode feeds a COUNT groupBy with map-side "
        "combine (one narrow (hash, count) shuffle — the same cost "
        "class as the minhash shingle explode), the >=min_count hash "
        "set semi-joins positions back, and the run merge is a window "
        "partitioned BY DOCUMENT (pos - row_number grouping) — no "
        "global ordering anywhere, so span extraction scales with the "
        "corpus, not with one reducer.")

    # 13. sequence packing: the distributed prefix sum must never plan
    # a global (unpartitioned) window
    pk_docs = docs.select("doc_id", F.size(F.split(
        F.coalesce("text", F.lit("")), " ")).alias("n_tokens"))
    pk_plan = curation.pack_sequences(pk_docs, ctx=128, buckets=32)
    pk_text = plan_text(pk_plan)
    for m in _re.finditer(r"windowspecdefinition\(([^,]*),", pk_text):
        if not m.group(1).strip().startswith("_b"):
            raise SystemExit(
                "pack_sequences structural check failed: window not "
                f"partitioned by bucket ({m.group(0)}) — the prefix sum "
                "has degenerated to a single-reducer global window")
    add("pack_sequences (concat-and-chunk packing)", pk_plan,
        ["broadcast_join"],
        "the global token prefix sum is computed over inlined quantile "
        "buckets: per-bucket totals (map-side combine, O(buckets) rows "
        "to the driver) become broadcast offsets, and the cumulative "
        "window is partitioned BY BUCKET — structurally enforced here: "
        "every windowspecdefinition in the plan partitions on _b, so "
        "no stage ever funnels the corpus through one reducer. Bucket "
        "assignment is a literal-array filter() lambda — evaluated "
        "JVM-side but not whole-stage-fused (the same known HOF "
        "limitation noted for ivf_fixed_topk); no Python anywhere.")

    # 14. keep-longest canonical selection rides WindowGroupLimit
    add("dedup_near longest (canonical selection)",
        components.dedup_near(
            docs.limit(200), policy="longest", threshold=0.5),
        ["window_group_limit", "partial_agg"],
        "the per-cluster keep-longest winner is a row_number()=1 "
        "filter over (component; n_words DESC, node ASC) — compiles "
        "to WindowGroupLimit, so each map task forwards one candidate "
        "per component into the shuffle and a 10^6-member mirror "
        "cluster moves 10^6 rows exactly once (the component labels), "
        "never again for the selection.")

    # density surface: the 9-tap stencil must run on the CELL-LEVEL
    # aggregate, never the raw rows — structurally: in the formatted
    # tree (parents before children) an aggregate sits above the
    # Generate (final stencil sum) AND below it (the count rollup the
    # explode consumes).
    from fagi_spark import cells
    dens_pts = cust.select(
        ((F.col("c_custkey") * 37 % 17000) / 100.0 - 80.0).alias("lon"),
        ((F.col("c_custkey") * 53 % 8000) / 100.0).alias("lat"))
    dens_plan = cells.density_surface(dens_pts, 10)
    dens_text = plan_text(dens_plan)
    gen = dens_text.find("Generate")
    agg_above = dens_text.find("HashAggregate")
    agg_below = dens_text.rfind("HashAggregate")
    if not (0 <= agg_above < gen < agg_below):
        raise SystemExit(
            f"density_surface structural check failed: expected "
            f"HashAggregate above and below Generate "
            f"(agg@{agg_above}, gen@{gen}, agg@{agg_below})")
    add("density_surface stencil-after-aggregate (J5f)", dens_plan,
        ["partial_agg"],
        "the 3x3 binomial stencil explodes the per-cell COUNT frame, "
        "not the raw points: the formatted tree shows a HashAggregate "
        "below the Generate (count rollup with map-side combine) and "
        "above it (stencil sum), so the 9-way row expansion is bounded "
        "by touched cells — at 10^12 points the explode input is the "
        "number of occupied tiles, orders of magnitude smaller "
        f"(verified structurally: agg@{agg_above} < generate@{gen} < "
        f"agg@{agg_below}).")

    # spatio-temporal co-occurrence: the ring x bucket replication
    # (three Generate nodes: ring dx, ring dy, bucket offsets) must
    # all sit under the BUILD side of the join — the probe side scans
    # once unexploded, so candidate volume is 27x one side, not both.
    from fagi_spark import events as evmod
    ev_pts = cust.select(
        F.col("c_custkey").alias("event_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("c_custkey") * 137
                            % 2592000).alias("ts"),
        ((F.col("c_custkey") * 37 % 1600) / 100.0 - 8.0).alias("lon"),
        ((F.col("c_custkey") * 53 % 800) / 100.0).alias("lat"))
    co_plan = evmod.cooccurrence_join(ev_pts, 0.03, 3600)
    co_text = plan_text(co_plan)
    # Parse the numbered tree (everything before the node details):
    # in formatted explain the join's FIRST child subtree carries a
    # ':' in the branch column; the LAST child (the build side, with
    # BuildRight) carries a space there. All Generates must sit in the
    # build subtree. Every marker is asserted present (fail closed).
    tree_end = co_text.find("(1) Scan")
    if tree_end < 0:
        raise SystemExit("cooccurrence check: no '(1) Scan' marker")
    tree = co_text[:tree_end].splitlines()
    join_i = [i for i, ln in enumerate(tree)
              if "BroadcastHashJoin" in ln or "SortMergeJoin" in ln]
    if not join_i:
        raise SystemExit("cooccurrence check: no join node in tree")
    ji = join_i[0]
    branch_col = max(tree[ji].find("+- "), tree[ji].find(":- "), 0)
    if "BuildRight" not in tree[ji] and "SortMergeJoin" not in tree[ji]:
        raise SystemExit("cooccurrence check: join is not BuildRight — "
                         f"re-derive which side replicates: {tree[ji]!r}")
    probe_gens = build_gens = 0
    for ln in tree[ji + 1:]:
        if "Generate" not in ln:
            continue
        if len(ln) > branch_col and ln[branch_col] == ":":
            probe_gens += 1
        else:
            build_gens += 1
    if build_gens < 3 or probe_gens != 0:
        raise SystemExit(
            "cooccurrence structural check failed: probe-side "
            f"Generates={probe_gens} (want 0), build-side="
            f"{build_gens} (want >= 3) — the probe must stay "
            "unexploded")
    add("cooccurrence_join (spatio-temporal pairs)", co_plan, [],
        "cell-ring x adjacent-time-bucket replication on ONE composite "
        "key: all three Generate nodes (ring dx, ring dy, bucket "
        "offset) sit strictly under the build side of the join while "
        "the probe scans once unexploded — structurally enforced "
        "(every Generate index in the plan tree is below the join "
        "node). Exact |dt| and distance predicates are JVM filters on "
        "candidates; each pair meets exactly once so there is no "
        "post-join dedup shuffle.")

    # IDW surface: the whole interpolation must be ONE shuffle — the
    # ring explode replicates samples map-side, and the key-sorted
    # folds + exact-hit min_by all live in the single per-cell
    # aggregate. Structurally: exactly one Exchange in the tree.
    idw_pts = cust.select(
        F.concat(F.lit("s"), F.col("c_custkey")).alias("subject"),
        ((F.col("c_custkey") * 37 % 17000) / 100.0 - 80.0).alias("lon"),
        ((F.col("c_custkey") * 53 % 8000) / 100.0).alias("lat"),
        (F.col("c_custkey") % 100).alias("val"))
    idw_plan = cells.idw_surface(idw_pts, 8, value="val")
    idw_text = plan_text(idw_plan)
    idw_idx = idw_text.find("(1) Scan")
    if idw_idx <= 0:
        # missing marker must be a hard error, not a silent whole-plan
        # fallback that double-counts Exchanges from the details section
        raise SystemExit(
            "idw_surface structural check failed: '(1) Scan' marker "
            "not found in the formatted plan — cannot isolate the tree")
    idw_tree = idw_text[:idw_idx]
    n_ex = idw_tree.count("Exchange")
    if n_ex != 1:
        raise SystemExit(
            f"idw_surface structural check failed: {n_ex} Exchanges "
            "in the tree (want exactly 1 — ring explode is map-side, "
            "folds live in the one per-cell aggregate)")
    add("idw_surface (inverse-distance interpolation)", idw_plan, [],
        "one shuffle total, structurally enforced: the sample-side "
        "ring explode and the d^2/weight math are map-side, and the "
        "key-sorted folds (v/d2, 1/d2), the exact-hit min_by, and the "
        "sample count all reduce inside the single per-cell aggregate "
        "— at any corpus size the interpolation pays exactly one "
        "exchange of (cell, sample-term) rows.")

    # 19. gridgeom polygon measures: a pure-codegen projection — the
    # robust-geometry path must NEVER pay a Python stage
    from fagi_spark import gridgeom
    gg_plan = contract.q_polygon_measures(spark, SF)
    gg_text = plan_text(gg_plan)
    if "Python" in gg_text or "BatchEval" in gg_text or "ArrowEval" in gg_text:
        raise SystemExit(
            "gridgeom structural check failed: a Python/Arrow eval "
            "stage appeared in polygon_measures — the robust-geometry "
            "measures must stay whole-stage-codegen column math")
    # 19b. stay_points: the two windows and the groupBy must all ride
    # ONE user-key exchange (HashPartitioning(user) satisfies the
    # (user, run, cell) clustering — a second exchange here would mean
    # the islands aggregate stopped reusing the window's partitioning)
    sp_plan = contract.q_events_stay_points(spark, SF)
    sp_text = plan_text(sp_plan)
    sp_idx = sp_text.find("(1) Scan")
    if sp_idx <= 0:
        # missing marker (or at index 0, which would make the slice
        # empty/whole-text) must be a hard error, not a silent
        # whole-plan fallback that double-counts the details section
        raise SystemExit(
            "stay_points structural check failed: '(1) Scan' marker "
            "not found in the formatted plan — cannot isolate the "
            "tree section for the Exchange count")
    sp_tree = sp_text[:sp_idx]
    n_sp_ex = sp_tree.count("Exchange")
    if n_sp_ex != 1:
        raise SystemExit(
            f"stay_points structural check failed: {n_sp_ex} Exchanges "
            "in the tree (want exactly 1 — lag window, running-sum "
            "window and the islands groupBy all share the user key)")
    add("events stay_points (gaps-and-islands)", sp_plan, [],
        "one shuffle total, structurally enforced: the cell-change lag "
        "window, the running-sum run numbering and the per-run "
        "aggregate all cluster on the user key, so the plan pays a "
        "single user-key exchange regardless of corpus size.")

    # 20. tile_topk_pyramid: the per-tile thinning window must compile
    # to WindowGroupLimit (k rows per tile per partition pre-shuffle)
    tk_plan = contract.q_tile_topk(spark, SF)
    add("tile_topk_pyramid (J5n per-tile top-k)", tk_plan,
        ["window_group_limit"],
        "one scan, one shift-derived explode into (res, tile) pairs, "
        "ONE window over (res, tile): WindowGroupLimit caps each tile "
        "at k rows per input partition before the exchange, so a "
        "dense-city tile ships k rows per partition, never its "
        "millions of points.")

    # 21. trajectory map-matching: the snap must thin per-ping
    # candidates with WindowGroupLimit BEFORE the rank exchange, and
    # the run-collapse tail (lag window + running sum + groupBy) must
    # ride ONE user-key exchange — the stay_points argument, re-checked
    # because map_match appends the collapse AFTER a join
    mm_plan = contract.q_events_map_match(spark, SF)
    mm_text = plan_text(mm_plan)
    mm_idx = mm_text.find("(1) Scan")
    if mm_idx <= 0:
        raise SystemExit("map_match structural check failed: '(1) Scan' "
                         "marker not found in the formatted plan")
    mm_tree = mm_text[:mm_idx]
    if "WindowGroupLimit" not in mm_tree:
        raise SystemExit("map_match structural check failed: snap k=1 "
                         "rank lost its WindowGroupLimit pre-thinning")
    # exactly THREE shuffle exchanges in the whole plan: the joins._widen
    # round-robin that spreads the narrow ping rows off the 1-2 scan
    # partitions (the r4 parallelism guard — 3-4x on this very entry),
    # the snap rank exchange, and the user-key exchange the lag window,
    # running-sum window and traversal aggregate all share (broadcasts
    # excluded — the ways dim and the snap->events join-back both
    # broadcast at this SF). A fourth exchange means the collapse tail
    # stopped reusing the user-key partitioning.
    n_shuffle = mm_tree.count("Exchange") - mm_tree.count("BroadcastExchange")
    if n_shuffle != 3:
        raise SystemExit(
            f"map_match structural check failed: {n_shuffle} shuffle "
            "Exchanges in the tree (want exactly 3: the _widen "
            "round-robin + snap rank + the one user-key exchange "
            "under the whole collapse tail)")
    if mm_tree.count("Window (") < 2 or "HashAggregate" not in mm_tree:
        raise SystemExit(
            "map_match structural check failed: lag/running-sum "
            "windows or the traversal aggregate missing from the plan")
    add("events map_match (trajectory map-matching)", mm_plan,
        ["window_group_limit", "partial_agg"],
        "snap: padded-PBSM candidate cells -> envelope prefilter -> "
        "Arrow exact refinement -> per-ping WindowGroupLimit (k=1 "
        "leaders only reach the rank exchange); collapse: the lag "
        "window, the running-sum traversal numbering and the interval "
        "aggregate all cluster on the user key — structurally enforced "
        "to sit after the plan's final exchange, so a 10^12-ping "
        "corpus pays the snap shuffles plus exactly ONE user-key "
        "exchange for the whole gaps-and-islands tail.")

    # segment-intersection join (J6f): the whole predicate must stay
    # JVM-side — zero Python stages anywhere in the plan
    si_plan = contract.q_segment_intersections(spark, SF)
    si_text = plan_text(si_plan)
    if "Python" in si_text or "ArrowEval" in si_text:
        raise SystemExit("segment_intersections structural check failed: "
                         "a Python/Arrow stage appeared in what must be a "
                         "pure-codegen BIGINT predicate plan")
    # ("codegen id" ids are absent in AQE non-final stages — the
    # broadcast join marker is the structural one here)
    add("segment_intersections (J6f exact crossing join)", si_plan,
        ["broadcast_join"],
        "PBSM cell explode on both sides, report-once reference-cell "
        "filter, then the entire orientation-sign predicate AND the "
        "rational intersection point as codegen column math — "
        "structurally enforced to contain zero Python stages, so a "
        "road-network-scale crossing join never leaves the JVM.")

    # marching-squares contours (J5s): stencil-after-aggregate — the
    # 4-corner fan + one block rollup; also pure codegen
    ct_plan = contract.q_contour_lines(spark, SF)
    ct_text = plan_text(ct_plan)
    if "Python" in ct_text or "ArrowEval" in ct_text:
        raise SystemExit("contour_lines structural check failed: a "
                         "Python/Arrow stage appeared in the "
                         "marching-squares plan")
    add("contour_lines (J5s raster->vector isolines)", ct_plan,
        ["partial_agg"],
        "per-cell counts -> 4-block corner fan (map-side explode) -> "
        "ONE (block) rollup rebuilding the corner quadruple -> 16-case "
        "lookup + exact-rational interpolation, all column math: work "
        "scales with touched cells, and the only shuffles are the two "
        "count/block aggregations.")

    add("gridgeom polygon_measures (J5m exact measures)", gg_plan,
        ["codegen"],
        "exact BIGINT shoelace area2 + centroid numerators + the IEEE "
        "perimeter fold compile to split/transform/aggregate column "
        "expressions over the scan — no Python worker anywhere "
        "(structurally enforced above), so the measures are free to "
        "attach as a projection inside any 100 TB polygon scan.")

    # 22. trajectory Hausdorff: the per-pair point cross-product MUST
    # ride equi-joins on the pair key — a CartesianProduct anywhere
    # means the blocking degenerated to all-pairs; the max-min tower is
    # two partial-agg HashAggregates per direction
    hd_plan = contract.q_trajectory_hausdorff(spark, SF)
    hd_text = plan_text(hd_plan)
    if "CartesianProduct" in hd_text:
        raise SystemExit("trajectory_hausdorff structural check failed: "
                         "CartesianProduct in plan — candidate blocking "
                         "degenerated to all-pairs")
    add("events trajectory_hausdorff (blocked pair similarity)", hd_plan,
        ["partial_agg"],
        "co-location blocking (shared 2^shift-cell block) generates "
        "candidate pairs via a self equi-join on the block key; each "
        "pair's |A|x|B| point cross-product rides equi-joins keyed on "
        "the PAIR (a hot block spreads by pair, not block), and the "
        "min-then-max tower is partial-aggregated. Structurally "
        "enforced: zero CartesianProduct nodes.")

    # 23. dissolve: rasterize fan-out then ONE distinct-count aggregate
    # over (group, cell) longs — geometry never crosses the shuffle
    dv_plan = contract.q_dissolve_area(spark, SF)
    dv_text = plan_text(dv_plan)
    if "CartesianProduct" in dv_text:
        raise SystemExit("dissolve_area structural check failed: "
                         "CartesianProduct in plan")
    add("joins dissolve_area (per-group raster union)", dv_plan,
        ["partial_agg"],
        "rasterize (JVM explode + Arrow ray-cast on candidates) -> "
        "narrow (subject, group) equi-join -> COUNT(DISTINCT cell) "
        "groupBy with partial aggregation: only (group, cell) longs "
        "cross the shuffle, so a group covering millions of cells "
        "fans out by cell before the final count.")

    # 24. banded simhash near-dup join: the band equi-join IS the
    # blocking — a cartesian would mean the bands fell out of the keys
    sp_pairs = textops.simhash_pairs(
        spark.read.parquet(f"{SF}/documents.parquet"),
        max_hamming=3, bits=56, n_bands=4, hash_family="poly")
    spt = plan_text(sp_pairs)
    if "CartesianProduct" in spt:
        raise SystemExit("simhash_pairs structural check failed: "
                         "CartesianProduct in plan")
    add("textops simhash_pairs (banded near-dup join)", sp_pairs,
        ["partial_agg"],
        "signatures band-posexplode into (band idx, value) keys and "
        "meet in an equi-join — pigeonhole-lossless blocking at "
        "max_hamming < n_bands; the bit_count(xor) verify and the "
        "pair distinct ride the join output. Structurally enforced: "
        "zero CartesianProduct nodes (the bands ARE the join keys).")

    # 25. bipartite projection: the hot-left guard must appear as a
    # semi-join BELOW the pair self-join
    from fagi_spark import components as _comp
    ev_pts = contract._event_pts(
        spark.read.parquet(f"{SF}/events.parquet"), "user_id")
    from fagi_spark import cells as _cells
    visits = _cells.with_cell(ev_pts, 6).select("user_id", "cell")
    bp_plan = _comp.bipartite_project(visits, left="user_id",
                                      right="cell", min_shared=2,
                                      max_left_degree=50)
    bpt = plan_text(bp_plan)
    if "CartesianProduct" in bpt:
        raise SystemExit("bipartite_project structural check failed: "
                         "CartesianProduct in plan")
    if "LeftSemi" not in bpt:
        raise SystemExit("bipartite_project structural check failed: "
                         "hot-left degree guard (LeftSemi) missing")
    add("components bipartite_project (co-visitation projection)",
        bp_plan, ["partial_agg"],
        "distinct incidence -> LeftSemi degree-cap guard (the deg^2 "
        "blow-up control, enforced structurally) -> self equi-join on "
        "the left key -> pair count rollup with partial aggregation; "
        "only (left, item) pairs cross shuffles.")

    # 26. one k-truss support round: wedges fan out on the degree-
    # oriented source only; closure is an equi-join on both wedge ends
    kt_edges = spark.range(2000).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 2000).alias("dst"))
    kt_plan = _comp._edge_support(
        _comp._canon_edges(kt_edges, "src", "dst"))
    ktt = plan_text(kt_plan)
    if "CartesianProduct" in ktt:
        raise SystemExit("k_truss support structural check failed: "
                         "CartesianProduct in plan")
    add("components k_truss support round (degree-ordered wedges)",
        kt_plan, ["partial_agg"],
        "the per-round edge-support computation behind k_truss: edges "
        "orient low-(degree, id) -> high, the wedge self-join fans out "
        "only on O(sqrt(m)) out-neighborhoods, closure is an equi-join "
        "against the canonical edge set, and member-edge support "
        "explodes each triangle exactly three times into a partial-"
        "aggregated rollup. Zero CartesianProduct nodes.")

    out = [
        "# Physical plans of the headline operators\n",
        "Generated by `python tools/explain_plans.py` (pyspark "
        f"{spark.version}, sf0.01 inputs). Each section: why the plan "
        "is the one we want at scale, the feature checklist, then the "
        "`explain(\"formatted\")` output.\n",
    ]
    ok = True
    for name, note, want, have, text in sections:
        out.append(f"\n## {name}\n\n{note}\n")
        for k in want:
            mark = "x" if have[k] else " "
            out.append(f"- [{mark}] {k}")
            ok = ok and have[k]
        out.append("\n```\n" + text.strip() + "\n```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written;", "all checks passed" if ok else "SOME CHECKS FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
