"""Multimodal binary columns + Structured Streaming ingest."""

import os

import pytest
from pyspark.sql import functions as F

from fagi_spark import extract, multimodal, streaming, synth


@pytest.fixture(scope="module")
def pages(spark):
    return synth.synth_pages(spark, 300, partitions=4).cache()


def test_html_decode_byte_identical(spark, pages):
    """BASELINE.json input_hint invariant: text survives byte-identically
    through the binary html payload."""
    dec = multimodal.decode_html_text(pages)
    j = pages.join(dec, "url")
    assert j.count() == 300
    assert j.filter(F.col("decoded_text") != F.col("text")).count() == 0


def test_media_meta_columns(spark, pages):
    m = multimodal.with_media_meta(pages, "html")
    row = m.select("media_kind", "n_bytes", "content_sha").first()
    assert row["media_kind"] == "html" and row["n_bytes"] > 0


def test_image_features_fake_decode_deterministic(spark, pages):
    f1 = multimodal.image_features(pages, "html", decode="fake")
    f2 = multimodal.image_features(pages.repartition(7), "html", decode="fake")
    a = {r["url"]: (r["width"], r["height"], r["mean_luma"]) for r in f1.collect()}
    b = {r["url"]: (r["width"], r["height"], r["mean_luma"]) for r in f2.collect()}
    assert a == b  # stable under repartitioning
    vec = f1.first()["feature_vec"]
    assert len(vec) == 8 and all(0.0 <= v <= 1.0 for v in vec)


def test_image_features_strict_raises(spark, pages):
    from py4j.protocol import Py4JJavaError
    with pytest.raises(Exception) as ei:
        multimodal.image_features(pages.limit(1), "html", decode="strict").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_frame_sample_shape(spark, pages):
    fr = multimodal.frame_sample(pages.limit(20), "html", every_ms=500, max_frames=3)
    rows = fr.collect()
    assert rows and all(r["ts_ms"] == r["frame_idx"] * 500 for r in rows)
    per_url = {}
    for r in rows:
        per_url.setdefault(r["url"], []).append(r["frame_idx"])
    assert all(sorted(v) == list(range(len(v))) for v in per_url.values())


def test_streaming_geocode_matches_batch(spark, pages, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages.write.parquet(src)

    stream = streaming.stream_pages(spark, src, max_files_per_trigger=2)
    ents = streaming.stream_geocode(stream)
    q = streaming.write_entities(ents, out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = extract.extract_entities(pages, carry=("warc_ts",))
    assert got.count() == batch.count()
    # identical entity sets (url, entity_idx) and carried timestamps
    diff = (got.select("url", "entity_idx", "warc_ts")
            .exceptAll(batch.select("url", "entity_idx", "warc_ts")))
    assert diff.count() == 0


def test_conflate_stream_matches_batch_knn(spark, pages, tmp_path):
    """Micro-batch incremental conflation == the batch kNN pipeline on
    the same corpus (synth urls are unique, so batch-local dedup is
    global here)."""
    from fagi_spark import fuse, joins, synth

    src = str(tmp_path / "ksrc")
    out = str(tmp_path / "kout")
    ckpt = str(tmp_path / "kckpt")
    pages.write.parquet(src)
    gb = fuse.prepare_geoms(
        spark.createDataFrame(synth.gazetteer_pdf(300, "b"))).persist()
    gb.count()

    q = streaming.conflate_stream(spark, src, gb, out, ckpt,
                                  k_neighbors=2, radius_m=50000.0,
                                  max_files_per_trigger=1)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    ents = extract.geocode_pages(pages)
    ga = ents.selectExpr("url AS subject", "lon AS cx", "lat AS cy")
    want = joins.knn_join(ga, gb, 2, 50000.0)
    cols = ["a_subject", "b_subject", "knn_rank"]
    assert got.count() == want.count() > 0
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    # multiple micro-batches actually ran (idempotent per-batch dirs)
    assert got.select("batch_id").distinct().count() > 1
    gb.unpersist()


def test_stream_then_compact_matches_batch_geocode(spark, pages, tmp_path):
    """The full streaming durability story: micro-batch ingest appends
    raw entities (no global dedup possible per-batch), then the batch
    compaction job applies the window precedence dedup and commits a
    snapshot — result must equal batch geocode_pages exactly."""
    from fagi_spark import checkpoint

    src = str(tmp_path / "csrc")
    out = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    pages.write.parquet(src)

    stream = streaming.stream_pages(spark, src, max_files_per_trigger=1)
    q = streaming.write_entities(streaming.stream_geocode(stream), out, ckpt)
    q.awaitTermination(120)

    store = checkpoint.CheckpointStore(str(tmp_path / "cstore"))
    compacted = streaming.compact_entities(spark, out, store=store)
    batch = extract.geocode_pages(pages)  # extract + global dedup
    cols = ["url", "entity_idx", "geom_kind", "geom_wkt"]
    assert compacted.count() == batch.count()
    assert compacted.select(*cols).exceptAll(batch.select(*cols)).count() == 0
    # committed as a resumable snapshot with lineage
    lin = store.lineage("entities_compacted")
    assert lin["n_rows"] == batch.count()


def test_streaming_tile_rollup(spark, pages, tmp_path):
    src = str(tmp_path / "src2")
    pages.write.parquet(src)
    stream = streaming.stream_pages(spark, src)
    tiles = streaming.tile_counts_stream(streaming.stream_geocode(stream),
                                         res=7, window="6 hours", watermark="1 hour")
    q = (tiles.writeStream.format("memory").queryName("tiles_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT SUM(n_entities) AS n FROM tiles_mem").first()["n"]
    want = extract.extract_entities(pages).count()
    assert got == want


def test_watermark_finalizes_closed_windows_only(spark, tmp_path):
    """Watermarked windowed rollup in append mode: windows older than
    the watermark horizon are finalized and emitted; windows within the
    horizon stay open (no row emitted). Late-row DROPPING is
    best-effort in Spark and deliberately not asserted — the contract
    the tile rollup relies on is finalization."""
    import datetime as dt

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    src = str(tmp_path / "wm_src")
    schema = "user_id long, ts timestamp, tile string"
    rows = [(1, t0, "a"), (1, t0 + dt.timedelta(hours=30), "b"),
            (2, t0 + dt.timedelta(hours=30, minutes=10), "b")]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (stream.withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 hour").alias("win"), "tile")
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("win.start").alias("ws"), "tile", "n"))
    q = (agg.writeStream.format("memory").queryName("wm_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["ws"], r["tile"]): r["n"]
           for r in spark.sql("SELECT * FROM wm_mem").collect()}
    # hour-0 window is far below the final watermark (28h) -> finalized
    assert got == {(t0, "a"): 1}
    # the hour-30 window (2 events) is inside the horizon -> still open,
    # nothing emitted for it in append mode


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): sessions that
    close across micro-batch boundaries must equal the batch
    sessionization's closed sessions — state carries the open session
    between batches."""
    import datetime as dt

    from fagi_spark import events as ev

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(user, minutes):
        return (user, t0 + dt.timedelta(minutes=minutes))

    # batch file 1: u1 session A (0,10min), u2 session A (0min)
    f1 = [row(1, 0), row(1, 10), row(2, 0)]
    # batch file 2: u1 gap>30min -> closes A, starts B; u2 continues A
    # then a late far event closes it too
    f2 = [row(1, 60), row(2, 20), row(2, 120), row(1, 62)]
    src = str(tmp_path / "events_src")
    schema = "user_id long, ts timestamp"
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    sess = streaming.sessionize_stream(stream, gap_seconds=1800.0)
    q = (sess.writeStream.format("memory").queryName("sess_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["n_events"], r["start_ts"], r["end_ts"])
           for r in spark.sql("SELECT * FROM sess_mem").collect()}

    allrows = spark.createDataFrame(f1 + f2, schema)
    batch = ev.session_stats(allrows, gap_seconds=1800.0)
    # closed sessions = all batch sessions except each user's last one
    from pyspark.sql import Window
    w = Window.partitionBy("user_id")
    closed = (batch.withColumn("_mx", F.max("session_id").over(w))
              .filter(F.col("session_id") != F.col("_mx")))
    want = {(r["user_id"], r["n_events"], r["start_ts"], r["end_ts"])
            for r in closed.collect()}
    assert got == want and len(got) == 2


def test_stateful_sessionize_late_event_extends_not_shrinks(spark, tmp_path):
    """A late cross-batch event inside the open session must extend its
    bounds, never move last_s/start_s backward (which would emit a
    too-early end_ts on the eventual close)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(minutes):
        return (7, t0 + dt.timedelta(minutes=minutes))

    src = str(tmp_path / "late_src")
    schema = "user_id long, ts timestamp"
    spark.createDataFrame([row(0), row(10)], schema).coalesce(1).write.parquet(src)
    # batch 2: late event at minute 5 (inside the open session), then a
    # far event that closes it
    spark.createDataFrame([row(5), row(120)], schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (streaming.sessionize_stream(stream, gap_seconds=1800.0)
         .writeStream.format("memory").queryName("late_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM late_mem").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_events"] == 3
    assert r["start_ts"] == t0
    assert r["end_ts"] == t0 + dt.timedelta(minutes=10)  # NOT minute 5


def test_micro_batch_dedup_matches_precedence(spark, pages):
    ents = extract.extract_entities(pages, carry=("warc_ts",))
    a = streaming.micro_batch_dedup(ents).select("url", "entity_idx", "geom_kind")
    b = extract.dedup_by_precedence(ents).select("url", "entity_idx", "geom_kind")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stateful_sessionize_very_late_event_is_own_session(spark, tmp_path):
    """An event more than a gap BEFORE the open session's start (ADVICE:
    previously merged backward into the open session) must be emitted as
    its own closed one-event session — matching what batch session_stats
    does with an isolated early event."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(minutes):
        return (9, t0 + dt.timedelta(minutes=minutes))

    src = str(tmp_path / "vlate_src")
    schema = "user_id long, ts timestamp"
    # batch 1: open session at minutes 100, 110
    spark.createDataFrame([row(100), row(110)], schema).coalesce(1).write.parquet(src)
    # batch 2: very-late event at minute 0 (>30min before session start)
    # plus a far event at minute 240 that closes the open session
    spark.createDataFrame([row(0), row(240)], schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (streaming.sessionize_stream(stream, gap_seconds=1800.0)
         .writeStream.format("memory").queryName("vlate_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["n_events"], r["start_ts"], r["end_ts"])
           for r in spark.sql("SELECT * FROM vlate_mem").collect()}
    assert got == {
        (1, t0, t0),                                            # the very-late singleton
        (2, t0 + dt.timedelta(minutes=100),
         t0 + dt.timedelta(minutes=110)),                       # the original open session
    }


def test_stateful_sessionize_very_late_run_groups_and_merges(spark, tmp_path):
    """Code-review r3: (a) consecutive very-late events within one gap
    of each other must form ONE earlier session, not singletons;
    (b) a very-late run ending within a gap of the open session's
    start must merge into it — both matching batch session_stats over
    the full event stream."""
    import datetime as dt

    from fagi_spark import events as ev

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(minutes, user=9):
        return (user, t0 + dt.timedelta(minutes=minutes))

    src = str(tmp_path / "vrun_src")
    schema = "user_id long, ts timestamp"
    # user 9: open session at 100,110; very-late RUN at 0,10 (one
    #   session), then closer at 240.
    # user 7: open session at 100; very-late run at 50,80 — 80 is
    #   within one gap (30min) of 100, so the whole run MERGES into
    #   the open session; closer at 300.
    spark.createDataFrame([row(100), row(110), row(100, 7)], schema) \
        .coalesce(1).write.parquet(src)
    spark.createDataFrame([row(0), row(10), row(240),
                           row(50, 7), row(80, 7), row(300, 7)], schema) \
        .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (streaming.sessionize_stream(stream, gap_seconds=1800.0)
         .writeStream.format("memory").queryName("vrun_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["n_events"], r["start_ts"], r["end_ts"])
           for r in spark.sql("SELECT * FROM vrun_mem").collect()}
    m = dt.timedelta
    assert got == {
        (9, 2, t0, t0 + m(minutes=10)),                   # grouped run
        (9, 2, t0 + m(minutes=100), t0 + m(minutes=110)),  # open closed by 240
        (7, 3, t0 + m(minutes=50), t0 + m(minutes=100)),   # run merged into open
    }
    # exact batch twin over the SAME full event set
    allrows = [row(100), row(110), row(0), row(10), row(240),
               row(100, 7), row(50, 7), row(80, 7), row(300, 7)]
    batch = {(r["user_id"], r["n_events"], r["start_ts"], r["end_ts"])
             for r in ev.session_stats(
                 spark.createDataFrame(allrows, schema), gap_seconds=1800.0)
             .collect()}
    # batch also reports the still-open trailing sessions (240 / 300)
    assert got <= batch


def test_streaming_tile_pyramid_matches_batch(spark, pages, tmp_path):
    """Stream pyramid == batch cells.tile_pyramid per (res, cell) once
    windows are summed out (one 6h window covers the synth corpus)."""
    from fagi_spark import cells
    src = str(tmp_path / "src3")
    pages.write.parquet(src)
    stream = streaming.stream_pages(spark, src, max_files_per_trigger=2)
    pyr = streaming.tile_pyramid_stream(streaming.stream_geocode(stream),
                                        resolutions=(7, 10, 13),
                                        window="6 hours", watermark="1 hour")
    q = (pyr.writeStream.format("memory").queryName("pyr_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.res, r.cell): r.n
           for r in spark.sql(
               "SELECT res, cell, SUM(n_entities) AS n FROM pyr_mem "
               "GROUP BY res, cell").collect()}
    ents = extract.extract_entities(pages)
    want = {(r.res, r.cell): r.n_points
            for r in cells.tile_pyramid(ents, base_res=13, levels=(10, 7))
            .collect()}
    assert got == want


def test_streaming_curation_matches_batch(spark, pages, tmp_path):
    """The stateless curation chain produces identical rows streamed
    vs batch (same kernels; sample decided by key hash only)."""
    src = str(tmp_path / "csrc")
    out = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    pages.write.parquet(src)

    q = streaming.write_entities(
        streaming.curate_stream(streaming.stream_pages(spark, src,
                                                       max_files_per_trigger=2)),
        out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out).select("url", "lang", "text")
    want = streaming.curate_stream(pages).select("url", "lang", "text")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_conflate_two_streams_matches_batch(spark, tmp_path):
    """Stream-STREAM conflation: two watermarked entity feeds joined by
    cell-ring + event-time range == batch radius_join + the same time
    filter. Watermark is wider than the data span so no state eviction
    confounds the correctness check (eviction policy is the documented
    scale behavior, not the semantics under test)."""
    import pandas as pd

    from fagi_spark import joins

    base = pd.Timestamp("2026-01-01 00:00:00")
    na, nb = 120, 150

    def feed(n, tag, mult):
        return pd.DataFrame({
            "subject": [f"{tag}{i}" for i in range(n)],
            "lon": [10.0 + ((i * mult) % 100) * 0.0005 for i in range(n)],
            "lat": [50.0 + ((i * (mult + 4)) % 100) * 0.0005 for i in range(n)],
            "warc_ts": [base + pd.Timedelta(seconds=(i * 97) % 7200)
                        for i in range(n)],
        })

    a_pdf, b_pdf = feed(na, "a", 7), feed(nb, "b", 13)
    a_src, b_src = str(tmp_path / "fa"), str(tmp_path / "fb")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ba = spark.createDataFrame(a_pdf)
    bb = spark.createDataFrame(b_pdf)
    ba.repartition(3).write.parquet(a_src)
    bb.repartition(3).write.parquet(b_src)

    sa = (spark.readStream.schema(ba.schema)
          .option("maxFilesPerTrigger", 1).parquet(a_src))
    sb = (spark.readStream.schema(bb.schema)
          .option("maxFilesPerTrigger", 1).parquet(b_src))
    joined = streaming.conflate_two_streams(sa, sb, radius_m=200.0,
                                            lag_seconds=900.0,
                                            watermark="4 hours")
    q = (joined.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.read.parquet(out)

    # independent batch expectation: cell-ring radius join + time filter
    ga = ba.selectExpr("subject", "lon AS cx", "lat AS cy")
    gb = bb.selectExpr("subject", "lon AS cx", "lat AS cy",
                       "lon AS xmin", "lon AS xmax", "'POINT' AS geom_kind")
    cand = joins.radius_join(ga, gb, 200.0)
    cand = (cand
            .join(ba.selectExpr("subject AS a_subject", "warc_ts AS a_ts"),
                  "a_subject")
            .join(bb.selectExpr("subject AS b_subject", "warc_ts AS b_ts"),
                  "b_subject")
            .filter(F.abs(F.unix_timestamp("a_ts") - F.unix_timestamp("b_ts"))
                    <= 900))
    want = cand.select("a_subject", "b_subject", "a_ts", "b_ts", "distance_m")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_dedup_stream_across_micro_batches(spark, pages, tmp_path):
    """Planted duplicate texts arrive in DIFFERENT micro-batches
    (one file per trigger); the keyed dedup state still suppresses
    them — the surviving fingerprint set equals the batch-distinct
    set, with exactly one row per content."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    # orderBy before limit: a bare limit() may pick different rows on
    # each of the three actions below (write base, write dup, compute
    # want_fps), which would make dup not a subset of base
    base = (pages.orderBy("url").limit(40)
            .select("url", "warc_ts", "html", "text", "lang"))
    dup = (base.orderBy("url").limit(15)
           .withColumn("url", F.concat(F.col("url"), F.lit("#mirror")))
           .withColumn("warc_ts",
                       F.col("warc_ts") + F.expr("INTERVAL 10 MINUTES")))
    base.repartition(1).write.parquet(src)
    dup.repartition(1).write.mode("append").parquet(src)

    stream = streaming.stream_pages(spark, src, max_files_per_trigger=1)
    deduped = streaming.dedup_stream(stream, watermark="4 hours")
    q = (deduped.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    from fagi_spark import textops
    want_fps = {r.fingerprint for r in
                textops.with_fingerprint(base.unionByName(dup))
                .select("fingerprint").distinct().collect()}
    assert {r.fingerprint for r in got.select("fingerprint").collect()} \
        == want_fps
    per_fp = got.groupBy("fingerprint").count().filter("count > 1").count()
    assert per_fp == 0
    assert got.count() == 40  # every duplicate suppressed exactly once


def test_neardup_stream_union_equals_full_candidates(spark, tmp_path):
    """Streaming near-dup maintenance: docs arrive in two micro-batches
    (one file per trigger); the union of per-batch probe outputs must
    equal the full-corpus minhash_candidates set — within-batch pairs
    via new-new, cross-batch pairs via the index probe — and the
    persistent index must hold every doc's bands exactly once."""
    from fagi_spark import textops
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "into the deep dark forest tonight looking for dinner")
    batch1 = [(1, base), (2, base + " tail"),
              (3, "unrelated alpha beta gamma delta words " * 3)]
    batch2 = [(10, "prefix " + base),          # cross-batch near-dup
              (11, "prefix " + base),          # within-batch dup of 10
              (12, "fresh content " + " ".join(f"q{j}" for j in range(15)))]
    src = str(tmp_path / "src")
    schema = "doc_id long, text string"
    spark.createDataFrame(batch1, schema).repartition(1).write.parquet(src)
    spark.createDataFrame(batch2, schema).repartition(1) \
        .write.mode("append").parquet(src)

    docs = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))
    idx_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    q = streaming.neardup_stream(docs, idx_path, pairs_path,
                                 str(tmp_path / "ck"))
    q.awaitTermination(180)

    got = {(r.id_a, r.id_b)
           for r in spark.read.parquet(pairs_path).collect()}
    full = spark.createDataFrame(batch1 + batch2, schema)
    want = {(r.id_a, r.id_b)
            for r in textops.minhash_candidates(full).collect()}
    assert got == want and (1, 10) in got and (10, 11) in got
    idx = spark.read.parquet(idx_path)
    assert idx.select("doc_id").distinct().count() == 6
    assert idx.count() == 6 * 8  # bands rows per doc, exactly once


def test_cooccur_stream_union_equals_batch_join(spark, tmp_path):
    """Streaming co-occurrence maintenance: events arrive in two
    micro-batches; the union of per-batch probe outputs equals the
    full-corpus batch cooccurrence_join — cross-batch pairs via the
    index probe, within-batch pairs via new-new — and the persistent
    index holds one exact-key row per event."""
    import datetime

    from fagi_spark import events as evmod

    t0 = datetime.datetime(2024, 1, 1)

    def e(i, sec, lon, lat):
        return (i, t0 + datetime.timedelta(seconds=sec), lon, lat)

    # batch1: a close-in-space-and-time pair (1,2); 3 far in space
    batch1 = [e(1, 0, 10.0, 20.0), e(2, 100, 10.01, 20.0),
              e(3, 50, 40.0, -30.0)]
    # batch2: 10 pairs with 1 and 2 across batches (near both);
    # 11 near 3 in space but not in time; 12 pairs with 10 in-batch
    batch2 = [e(10, 200, 10.005, 20.005), e(11, 90000, 40.0, -30.01),
              e(12, 450, 10.02, 20.01)]
    schema = "event_id long, ts timestamp, lon double, lat double"
    src = str(tmp_path / "src")
    spark.createDataFrame(batch1, schema).repartition(1).write.parquet(src)
    spark.createDataFrame(batch2, schema).repartition(1) \
        .write.mode("append").parquet(src)

    ev_stream = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", 1).parquet(src))
    idx_path = str(tmp_path / "cidx")
    pairs_path = str(tmp_path / "cpairs")
    q = streaming.cooccur_stream(ev_stream, idx_path, pairs_path,
                                 str(tmp_path / "cck"),
                                 radius_deg=0.03, window_s=600)
    q.awaitTermination(180)

    got = sorted(map(tuple, spark.read.parquet(pairs_path)
                 .select("a_id", "b_id", "dt_us", "dist_deg").collect()))
    full = spark.createDataFrame(batch1 + batch2, schema)
    want = sorted(map(tuple,
                      evmod.cooccurrence_join(full, 0.03, 600).collect()))
    assert got == want
    pair_ids = {(a, b) for a, b, _, _ in got}
    assert (1, 10) in pair_ids and (2, 10) in pair_ids  # cross-batch
    assert (10, 12) in pair_ids                          # within-batch
    assert (3, 11) not in pair_ids                       # time excludes
    idx = spark.read.parquet(idx_path)
    assert idx.count() == 6 and idx.select("id").distinct().count() == 6


def test_od_flows_stream_union_equals_batch(spark, tmp_path):
    """Streaming OD transitions: events in two micro-batches; the
    rolled-up union of per-batch transition rows equals the batch
    od_flows matrix (n_moves AND n_users), including the transition
    that CROSSES the batch boundary via keyed state."""
    import datetime as dt

    from fagi_spark import cells, events as evmod

    res = 6
    w = cells.cell_width_deg(res)
    t0 = dt.datetime(2024, 1, 1)
    A, B, C = 10.0 + w / 2, 10.0 + 3 * w / 2, 10.0 + 5 * w / 2

    def e(i, u, sec, lo):
        return (i, u, t0 + dt.timedelta(seconds=sec), lo, 20.0)

    batch1 = [e(1, 1, 0, A), e(2, 1, 60, B),          # u1: A->B
              e(3, 2, 0, A)]                           # u2 parked at A
    batch2 = [e(4, 1, 120, C),                         # u1: B->C across batches
              e(5, 2, 60, A),                          # u2: stay (no row)
              e(6, 2, 120, B)]                         # u2: A->B
    schema = ("event_id long, user_id long, ts timestamp, "
              "lon double, lat double")
    src = str(tmp_path / "odsrc")
    spark.createDataFrame(batch1, schema).repartition(1).write.parquet(src)
    spark.createDataFrame(batch2, schema).repartition(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out_path = str(tmp_path / "odout")
    q = (streaming.od_flows_stream(stream, res)
         .writeStream.format("parquet")
         .option("path", out_path)
         .option("checkpointLocation", str(tmp_path / "odck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = (spark.read.parquet(out_path)
           .groupBy("from_cell", "to_cell")
           .agg(F.count(F.lit(1)).alias("n_moves"),
                F.count_distinct("user_id").alias("n_users")))
    full = spark.createDataFrame(batch1 + batch2, schema)
    want = evmod.od_flows(full, res)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the cross-batch B->C transition exists
    cb = cells.pack_cell_value(int((B + 180) / 360 * 64),
                               int((20.0 + 90) / 180 * 64), res)
    cc = cells.pack_cell_value(int((C + 180) / 360 * 64),
                               int((20.0 + 90) / 180 * 64), res)
    assert got.filter((F.col("from_cell") == cb)
                      & (F.col("to_cell") == cc)).count() == 1


def test_stateful_stay_points_stream_matches_batch(spark, tmp_path):
    """Keyed-state stay-point runs across a micro-batch boundary:
    closed stream runs == batch stay_points(min_events=1) minus each
    user's final (still open) run."""
    import datetime as dt

    from fagi_spark import cells
    from fagi_spark import events as ev

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    w = cells.cell_width_deg(6)

    def row(user, minutes, dx):
        return (user, t0 + dt.timedelta(minutes=minutes),
                10.0 + dx * 1.5 * w, 20.0)

    # file 1: u1 two events in cell A; u2 one event in cell X
    f1 = [row(1, 0, 0), row(1, 5, 0), row(2, 0, 3)]
    # file 2: u1 continues A then moves to B (closes A); u2 moves (closes X)
    f2 = [row(1, 10, 0), row(1, 20, 1), row(2, 30, 4)]
    src = str(tmp_path / "stay_src")
    schema = "user_id long, ts timestamp, lon double, lat double"
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (streaming.stay_points_stream(stream, res=6)
         .writeStream.format("memory").queryName("stay_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["cell"], r["enter_us"], r["exit_us"],
            r["n_events"])
           for r in spark.sql("SELECT * FROM stay_mem").collect()}

    allrows = spark.createDataFrame(f1 + f2, schema).withColumn(
        "event_id", F.monotonically_increasing_id())
    batch = ev.stay_points(allrows, res=6, min_events=1)
    from pyspark.sql import Window
    win = Window.partitionBy("user_id")
    closed = (batch.withColumn("_mx", F.max("enter_us").over(win))
              .filter(F.col("enter_us") != F.col("_mx")))
    want = {(r["user_id"], r["cell"], r["enter_us"], r["exit_us"],
             r["n_events"]) for r in closed.collect()}
    assert got == want
    # u1's A run closed with all 3 events incl. the cross-batch one
    assert any(u == 1 and n == 3 for u, _, _, _, n in got)
    assert len(got) == 2  # u1 A run + u2 X run; open runs not emitted


def test_stateful_map_match_stream_matches_batch(spark, tmp_path):
    """Keyed-state map-matching across a micro-batch boundary: closed
    stream traversals == batch map_match minus each user's final
    (still open) run; the off-network ping and the per-ping nearest-way
    argmin behave exactly like batch."""
    import datetime as dt

    from fagi_spark import events as ev
    from fagi_spark import fuse

    ways = fuse.prepare_geoms(spark.createDataFrame(
        [("roadA", "LINESTRING (10.0 20.0, 10.1 20.0)"),
         ("roadB", "LINESTRING (10.0 20.5, 10.1 20.5)")],
        "subject string, geom_wkt string"))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(user, minutes, x, y):
        return (user, t0 + dt.timedelta(minutes=minutes), x, y)

    # file 1: u1 two pings on A, one off-network; u2 one ping on B
    f1 = [row(1, 0, 10.02, 20.001), row(1, 5, 10.03, 20.002),
          row(1, 10, 12.5, 22.5), row(2, 0, 10.05, 20.499)]
    # file 2: u1 continues A (cross-batch same-way) then moves to B
    # (closes A); u2 moves to A (closes B)
    f2 = [row(1, 15, 10.04, 20.003), row(1, 20, 10.05, 20.501),
          row(2, 30, 10.02, 20.002)]
    src = str(tmp_path / "mm_src")
    schema = "user_id long, ts timestamp, lon double, lat double"
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (streaming.map_match_stream(stream, ways, 5000.0, res=6)
         .writeStream.format("memory").queryName("mm_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM mm_mem").collect()}

    allrows = spark.createDataFrame(f1 + f2, schema).withColumn(
        "event_id", F.monotonically_increasing_id())
    batch = ev.map_match(allrows, ways, 5000.0, res=6)
    from pyspark.sql import Window
    win = Window.partitionBy("user_id")
    closed = (batch.withColumn("_mx", F.max("enter_us").over(win))
              .filter(F.col("enter_us") != F.col("_mx"))
              .select("user_id", "way", "enter_us", "exit_us",
                      "n_pings", "min_snap_m"))
    want = {tuple(r) for r in closed.collect()}
    assert got == want
    # u1's roadA run closed with all 3 pings (incl. the cross-batch
    # one; the off-network ping did not split it)
    assert any(u == 1 and w == "roadA" and n == 3
               for u, w, _, _, n, _ in got)
    assert len(got) == 2


def test_heading_octants_stream_union_equals_batch(spark, tmp_path):
    """Streaming heading octants: pings in two micro-batches; the
    rolled-up union of per-batch move rows equals the batch operator
    exactly (counts AND summed d2), including the displacement that
    crosses the batch boundary via keyed state. The fixture walks all
    8 directions plus both diagonals so the python sector rule is
    pinned to the Spark CASE branch-for-branch."""
    import datetime as dt

    from fagi_spark import events as evmod

    t0 = dt.datetime(2024, 1, 1)
    steps = [(3, 0), (2, 2), (0, 4), (-1, 3), (-5, 0), (-2, -2),
             (0, -7), (4, -4), (1, 0), (0, 0), (5, 1), (-3, -1)]
    rows, pos = [], (1000, 1000)
    rows.append((0, 1, t0, pos[0], pos[1]))
    for n, (dx, dy) in enumerate(steps, 1):
        pos = (pos[0] + dx, pos[1] + dy)
        rows.append((n, 1, t0 + dt.timedelta(seconds=60 * n),
                     pos[0], pos[1]))
    # second user entirely inside batch 2
    rows.append((100, 2, t0, 50, 50))
    rows.append((101, 2, t0 + dt.timedelta(seconds=60), 53, 54))
    schema = ("event_id long, user_id long, ts timestamp, "
              "ix long, iy long")
    cut = 7  # boundary splits user 1's walk mid-way
    src = str(tmp_path / "octsrc")
    spark.createDataFrame(rows[:cut], schema).repartition(1) \
        .write.parquet(src)
    spark.createDataFrame(rows[cut:], schema).repartition(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out_path = str(tmp_path / "octout")
    q = (streaming.heading_octants_stream(stream)
         .writeStream.format("parquet")
         .option("path", out_path)
         .option("checkpointLocation", str(tmp_path / "octck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r["user_id"], r["octant"]): (r["n_moves"], r["sum_d2"])
           for r in spark.read.parquet(out_path)
           .groupBy("user_id", "octant")
           .agg(F.count(F.lit(1)).alias("n_moves"),
                F.sum("d2").alias("sum_d2")).collect()}
    batch = spark.createDataFrame(rows, schema).withColumn(
        "us", F.unix_micros("ts"))
    want = {(r["user_id"], r["octant"]): (r["n_moves"], r["sum_d2"])
            for r in evmod.heading_octants(
                batch, order=("us", "event_id")).collect()}
    assert got == want
    assert len({u for u, _ in got}) == 2


def test_streaming_activity_periods_matches_batch(spark, tmp_path):
    """Stream (period, cell, n) == batch rollup over the same events,
    and the read-time decay finalize produces the documented
    period-aligned weights for a hand 'now'."""
    import datetime as dt

    from fagi_spark import events as ev

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        rows.append((i, t0 + dt.timedelta(hours=i % 72),
                     (i % 40) * 0.01, (i % 20) * 0.01))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, lon double, lat double")
    src = str(tmp_path / "act_src")
    df.write.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = streaming.activity_periods_stream(stream, res=6,
                                            period_s=86400)
    q = (agg.writeStream.format("memory").queryName("act_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.period_start, r.cell): r.n_events
           for r in spark.sql("SELECT * FROM act_mem").collect()}
    from fagi_spark import cells
    batch = (cells.with_cell(df, 6)
             .groupBy(F.window("ts", "86400 seconds").alias("win"), "cell")
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.col("win.start").alias("ps"), "cell", "n"))
    want = {(r.ps, r.cell): r.n for r in batch.collect()}
    assert got == want
    # finalize: day-aligned decay with now = day 3 boundary
    per = spark.createDataFrame(
        [(dt.datetime(2024, 1, 3), 100, 5),   # age bucket 1 -> w 4
         (dt.datetime(2024, 1, 4), 100, 2),   # bucket 0 -> w 8
         (dt.datetime(2024, 1, 1), 100, 1),   # bucket 3 > hz -> 0
         (dt.datetime(2024, 1, 5), 100, 9)],  # future -> 0
        "period_start timestamp, cell long, n_events long")
    [r] = ev.decayed_from_periods(per, "2024-01-04 12:00:00",
                                  half_life_s=86400, horizon=2).collect()
    assert (r.n_events, r.sum_w) == (17, 5 * 2 + 2 * 4)
    assert r.decayed_score == (5 * 2 + 2 * 4) / 4.0


def test_cdc_diff_stream_replays_to_final_state(spark, tmp_path):
    """Per-batch CDC diffs replay, batch by batch, to exactly the
    final snapshot; each batch's diff carries only its own changes."""
    schema = "subject string, geom_wkt string, op string"
    f1 = [("s1", "POINT (1 1)", "put"), ("s2", "POINT (2 2)", "put"),
          ("s3", "POINT (3 3)", "put")]
    f2 = [("s2", "POINT (9 9)", "put"),      # changed
          ("s3", None, "del"),               # removed
          ("s4", "POINT (4 4)", "put")]      # added
    src = str(tmp_path / "cdc_src")
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    state = str(tmp_path / "cdc_state")
    diffs = str(tmp_path / "cdc_diffs")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = streaming.cdc_diff_stream(stream, state, diffs,
                                  str(tmp_path / "cdc_ckpt"))
    q.awaitTermination(120)

    alld = (spark.read.option("basePath", diffs).parquet(diffs)
            .collect())
    by_batch = {}
    for r in alld:
        by_batch.setdefault(r.batch_id, {})[r.subject] = r

    # replay the diffs over an empty dict
    replay = {}
    for bid in sorted(by_batch):
        for s, r in by_batch[bid].items():
            if r.change == "removed":
                replay.pop(s, None)
            else:
                replay[s] = r.new_geom_wkt
    final_rows = {r.subject: r.geom_wkt for r in
                  streaming.read_cdc_state(spark, state).collect()}
    assert replay == final_rows
    assert final_rows == {"s1": "POINT (1 1)", "s2": "POINT (9 9)",
                          "s4": "POINT (4 4)"}
    # batch 2's diff names exactly the three changes
    b2 = by_batch[max(by_batch)]
    assert {s: r.change for s, r in b2.items()} == {
        "s2": "changed", "s3": "removed", "s4": "added"}


def test_cdc_state_path_must_be_local(spark, tmp_path):
    """A URI state path is refused on the driver before any query
    starts: the state is listed with os calls, so it would read as
    empty and every batch would rebuild from nothing."""
    import pytest

    schema = "subject string, geom_wkt string, op string"
    src = str(tmp_path / "src")
    spark.createDataFrame([("s1", "POINT (1 1)", "put")], schema) \
        .write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    n_active = len(spark.streams.active)
    with pytest.raises(ValueError, match="local directory"):
        streaming.cdc_diff_stream(stream, "s3a://bucket/state",
                                  str(tmp_path / "diffs"),
                                  str(tmp_path / "ckpt"))
    assert len(spark.streams.active) == n_active
    with pytest.raises(ValueError, match="local directory"):
        streaming.read_cdc_state(spark, "s3a://bucket/state")


def test_cdc_state_writes_scale_with_batch(spark, tmp_path):
    """r4 verdict item 6: state writes are log-structured — a delta
    partition holds exactly the batch's ops (not the snapshot), a
    _FULL compaction lands every compact_every batches, retried
    reconstruction stays replay-identical, and compact_every=1
    reproduces the old full-rewrite layout."""
    import os

    schema = "subject string, geom_wkt string, op string"
    src = str(tmp_path / "src")
    # batch 0: 60 subjects; batches 1..4: 2 ops each
    big = [(f"s{i}", f"POINT ({i} {i})", "put") for i in range(60)]
    spark.createDataFrame(big, schema).coalesce(1).write.parquet(src)
    for b in range(1, 5):
        ops = [(f"s{b}", f"POINT ({100+b} 0)", "put"), (f"s{10+b}", None, "del")]
        spark.createDataFrame(ops, schema).coalesce(1).write.mode(
            "append").parquet(src)

    state = str(tmp_path / "state")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = streaming.cdc_diff_stream(stream, state, str(tmp_path / "diffs"),
                                  str(tmp_path / "ckpt"), compact_every=3)
    q.awaitTermination(180)

    ids = streaming._cdc_state_ids(state)
    assert ids == [0, 1, 2, 3, 4]
    fulls = {i for i in ids
             if os.path.exists(f"{state}/batch_id={i}/_FULL")}
    assert fulls == {2}  # chain 0,1 then compaction at batch 2
    sizes = {i: spark.read.parquet(f"{state}/batch_id={i}").count()
             for i in ids}
    # delta partitions hold exactly the batch's ops — 60 for batch 0,
    # 2 for the small batches; the compaction holds the snapshot
    assert sizes[0] == 60 and sizes[1] == 2 and sizes[3] == 2 and sizes[4] == 2
    assert sizes[2] == 58  # 60 subjects minus the two deletes so far

    # reconstruction == dict replay of the raw ops
    replay = {s: w for s, w, _ in big}
    for b in range(1, 5):
        replay[f"s{b}"] = f"POINT ({100+b} 0)"
        replay.pop(f"s{10+b}", None)
    got = {r.subject: r.geom_wkt
           for r in streaming.read_cdc_state(spark, state).collect()}
    assert got == replay
    # prefix reconstruction (what a retried batch 3 would read)
    pre = {s: w for s, w, _ in big}
    for b in (1, 2):
        pre[f"s{b}"] = f"POINT ({100+b} 0)"
        pre.pop(f"s{10+b}", None)
    got3 = {r.subject: r.geom_wkt
            for r in streaming.read_cdc_state(spark, state,
                                              before=3).collect()}
    assert got3 == pre
