"""Checkpoint store: snapshot commits, lineage, resume, crash safety."""

import json
import os

import pytest
from pyspark.sql import functions as F

from fagi_spark.checkpoint import CheckpointStore


def test_commit_load_roundtrip(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    df = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    snap = store.commit(df, "stage_a")
    assert snap == 0
    back = store.load(spark, "stage_a")
    assert back.count() == 100
    assert {r["id"]: r["v"] for r in back.collect()} == {i: 2 * i for i in range(100)}


def test_snapshots_are_monotonic_and_isolated(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    store.commit(spark.range(0, 10), "s")
    store.commit(spark.range(0, 20), "s")
    assert store.latest("s") == 1
    assert store.load(spark, "s").count() == 20
    assert store.load(spark, "s", snapshot_id=0).count() == 10  # history kept


def test_lineage_rows_and_metrics(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    df = spark.range(0, 1000, 1, 4)
    store.run_stage(spark, "s", lambda: df,
                    observe={"n": F.count(F.lit(1)),
                             "max_id": F.max("id")})
    lin = store.lineage("s")
    assert lin["n_rows"] == 1000
    assert lin["n_files"] >= 1
    assert sum(r["n_rows"] for r in lin["lineage"]) == 1000
    assert lin["metrics"]["n"] == 1000 and lin["metrics"]["max_id"] == 999


def test_metrics_rewrite_crash_keeps_lineage_readable(spark, tmp_path,
                                                      monkeypatch):
    """run_stage rewrites an already-published snapshot's lineage to
    add metrics; a crash mid-dump must leave the previous lineage file
    whole (resume reads it), not truncated JSON."""
    store = CheckpointStore(str(tmp_path))
    real_dump = json.dump

    def torn_dump(obj, f, *args, **kwargs):
        if obj.get("metrics"):  # only the post-publish metrics rewrite
            f.write(json.dumps(obj)[:10])
            raise OSError("simulated crash mid-dump")
        return real_dump(obj, f, *args, **kwargs)

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-dump"):
        store.run_stage(spark, "s", lambda: spark.range(0, 40),
                        observe={"n": F.count(F.lit(1))})
    monkeypatch.undo()
    lin = store.lineage("s")
    assert lin["n_rows"] == 40 and lin["metrics"] == {}
    assert sorted(os.listdir(os.path.join(str(tmp_path), "s"))) == [
        "LATEST", "snap_0", "snap_0.lineage.json"]


def test_run_stage_resumes_without_recompute(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(0, 50)

    a = store.run_stage(spark, "s", build)
    b = store.run_stage(spark, "s", build)  # resume: loads, not rebuilds
    assert len(calls) == 1
    assert a.count() == b.count() == 50
    c = store.run_stage(spark, "s", build, force=True)
    assert len(calls) == 2 and c.count() == 50


def test_partial_write_invisible(spark, tmp_path):
    """A staging dir left by a crash is never read; the previous
    snapshot stays authoritative."""
    store = CheckpointStore(str(tmp_path))
    store.commit(spark.range(0, 10), "s")
    staging = os.path.join(str(tmp_path), "s", "_staging_1")
    os.makedirs(staging)  # simulated crash mid-write
    with open(os.path.join(staging, "part-00000.parquet"), "w") as f:
        f.write("garbage")
    assert store.latest("s") == 0
    assert store.load(spark, "s").count() == 10
    # next commit skips past the wreck and still works
    snap = store.commit(spark.range(0, 30), "s")
    assert snap >= 1 and store.load(spark, "s").count() == 30


def test_commit_runs_only_the_write_job(spark, tmp_path):
    """Lineage comes from parquet footers, not a second scan: commit
    must launch exactly as many Spark jobs as the bare parquet write
    itself (the old groupBy(input_file_name()) re-read every file)."""
    tracker = spark.sparkContext.statusTracker()

    def n_jobs():
        return len(tracker.getJobIdsForGroup(None) or [])

    df = spark.range(0, 1000, 1, 4)
    before = n_jobs()
    df.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    write_jobs = n_jobs() - before

    store = CheckpointStore(str(tmp_path / "ckpt"))
    before = n_jobs()
    store.commit(df, "s")
    assert n_jobs() - before == write_jobs
    lin = store.lineage("s")
    assert sum(r["n_rows"] for r in lin["lineage"]) == 1000
    assert all(r["n_bytes"] > 0 for r in lin["lineage"])


def test_crash_between_replace_and_publish_recovers(spark, tmp_path):
    """Orphaned unpublished snap dir (process died after os.replace,
    before LATEST flip) must not wedge the next commit (ADVICE:
    os.replace cannot overwrite a non-empty dir)."""
    import shutil

    store = CheckpointStore(str(tmp_path))
    store.commit(spark.range(0, 10), "s")
    # simulate the crash window: snap_1 exists, LATEST still points at 0
    shutil.copytree(os.path.join(str(tmp_path), "s", "snap_0"),
                    os.path.join(str(tmp_path), "s", "snap_1"))
    assert store.latest("s") == 0
    snap = store.commit(spark.range(0, 25), "s")
    assert snap == 1
    assert store.latest("s") == 1
    assert store.load(spark, "s").count() == 25


def test_pipeline_fail_after_resumes(spark, tmp_path):
    """End-to-end: crash after the links stage; relaunch completes from
    the committed snapshots (pages/entities/links not recomputed —
    their snapshot ids are unchanged)."""
    from fagi_spark.jobs import pipeline

    out = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run(spark, out, n_pages=500, fail_after="links")
    store = CheckpointStore(out)
    ids_before = {s: store.latest(s) for s in ("pages", "entities", "links")}
    assert store.latest("fused") is None

    res = pipeline.run(spark, out, n_pages=500)
    store2 = res["store"]
    for s, snap in ids_before.items():
        assert store2.latest(s) == snap  # resumed, not recomputed
    assert store2.latest("fused") is not None
    assert store2.latest("tiles") is not None
    assert res["tiles"].count() > 0


def test_commit_lock_breaks_dead_holder_and_blocks_live(spark, tmp_path):
    """The per-stage commit lock (ADVICE: concurrent commits could
    delete each other's just-renamed snapshots): a lock file left by a
    DEAD pid is broken immediately and the commit proceeds; a lock held
    by a LIVE pid makes the next commit wait and time out rather than
    repair-delete anything."""
    store = CheckpointStore(str(tmp_path))
    store.commit(spark.range(0, 5), "s")

    d = os.path.join(str(tmp_path), "s")
    lock = os.path.join(d, ".commit.lock")

    # dead holder: a pid that cannot exist
    with open(lock, "w") as f:
        f.write("999999999")
    assert store.commit(spark.range(0, 7), "s") == 1
    assert not os.path.exists(lock)  # released after commit

    # live holder (our own pid): bounded wait then TimeoutError,
    # and the published data is untouched
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    df = spark.range(0, 9)
    with pytest.raises(TimeoutError):
        store._acquire_lock(lock, timeout_s=0.3)
    os.unlink(lock)
    assert store.load(spark, "s").count() == 7


def test_commit_replace_nonrace_oserror_is_raised(spark, tmp_path, monkeypatch):
    """A persistent non-race failure in the publish rename (EXDEV,
    EACCES, ...) must raise, not spin (ADVICE: unbounded retry loop)."""
    store = CheckpointStore(str(tmp_path))

    def boom(src, dst):
        raise OSError(18, "Invalid cross-device link")  # EXDEV

    real_replace = os.replace

    def fake_replace(src, dst):
        if "snap_" in os.path.basename(dst):
            boom(src, dst)
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", fake_replace)
    with pytest.raises(OSError):
        store.commit(spark.range(0, 5), "s2")
    monkeypatch.undo()
    # lock must not be left behind by the failed commit
    assert not os.path.exists(os.path.join(str(tmp_path), "s2", ".commit.lock"))


def test_curate_job_fail_after_resumes_and_matches_fresh(spark, tmp_path):
    """Curation chain: crash after the filter stage; relaunch resumes
    (earlier snapshots untouched) and the final mix equals a fresh
    uninterrupted run — stage determinism end to end."""
    from fagi_spark.jobs import curate

    out = str(tmp_path / "cur")
    with pytest.raises(RuntimeError, match="injected failure"):
        curate.run(spark, out, n_pages=400, fail_after="filtered")
    store = CheckpointStore(out)
    ids_before = {s: store.latest(s)
                  for s in ("captures", "latest", "scrubbed", "filtered")}
    assert store.latest("mix") is None

    res = curate.run(spark, out, n_pages=400)
    for s, snap in ids_before.items():
        assert res["store"].latest(s) == snap  # resumed, not recomputed
    resumed = {r.url for r in res["mix"].select("url").collect()}

    fresh = curate.run(spark, str(tmp_path / "cur2"), n_pages=400)
    assert resumed == {r.url for r in fresh["mix"].select("url").collect()}
    # the latest-capture stage dropped every stale snapshot
    assert res["latest"].filter("text LIKE 'OLD SNAPSHOT %'").count() == 0
    lin = res["store"].lineage("scrubbed")
    assert lin["metrics"]["n_rows"] == 400
    # packing conservation: every mix token lands in exactly one segment
    from pyspark.sql import functions as F
    total_tokens = res["mix"].agg(F.sum(F.size(F.split(
        F.coalesce("text", F.lit("")), " ")))).first()[0]
    plin = res["store"].lineage("packed")
    assert plin["metrics"]["n_tokens_packed"] == total_tokens
    assert plin["metrics"]["n_packs"] >= 1


def test_vacuum_expires_old_snapshots_keeps_time_travel_window(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    for n in (10, 20, 30, 40):
        store.commit(spark.range(n).toDF("v"), "s")
    assert store.latest("s") == 3
    removed = store.vacuum("s", keep_last=2)
    assert removed == [0, 1]
    # LATEST and the retained window still load; lineage follows
    assert store.load(spark, "s").count() == 40
    assert store.load(spark, "s", snapshot_id=2).count() == 30
    assert store.lineage("s", 2)["n_rows"] == 30
    import pytest as _pytest
    with _pytest.raises(Exception):
        store.load(spark, "s", snapshot_id=0).count()
    # idempotent; keep_last=1 trims to just LATEST
    assert store.vacuum("s", keep_last=2) == []
    assert store.vacuum("s", keep_last=1) == [2]
    assert store.load(spark, "s").count() == 40


def test_snapshot_diff_changelog(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    store.commit(spark.range(0, 10).toDF("v"), "s")
    store.commit(spark.range(3, 14).toDF("v"), "s")   # +10..13, -0..2
    added, removed = store.diff(spark, "s", from_id=0)
    assert sorted(r.v for r in added.collect()) == [10, 11, 12, 13]
    assert sorted(r.v for r in removed.collect()) == [0, 1, 2]
    # identity window
    a2, r2 = store.diff(spark, "s", from_id=1, to_id=1)
    assert a2.count() == 0 and r2.count() == 0


def test_dedup_job_fail_after_resumes_and_matches_fresh(spark, tmp_path):
    """Dedup chain: crash after candidates; relaunch resumes (earlier
    snapshots untouched) and the survivor set equals a fresh run. The
    planted mirrors collapse: exactly one survivor per cluster, and
    every 'mirror of' copy (longer by two words) beats its original
    under the keep-longest policy."""
    from fagi_spark.jobs import dedup

    out = str(tmp_path / "dd")
    with pytest.raises(RuntimeError, match="injected failure"):
        dedup.run(spark, out, n_docs=600, fail_after="candidates")
    store = CheckpointStore(out)
    before = {s: store.latest(s) for s in ("docs", "bands", "candidates")}
    assert store.latest("kept") is None

    res = dedup.run(spark, out, n_docs=600)
    for s, snap in before.items():
        assert res["store"].latest(s) == snap  # resumed, not recomputed
    kept = {r.doc_id for r in res["kept"].select("doc_id").collect()}

    fresh = dedup.run(spark, str(tmp_path / "dd2"), n_docs=600)
    assert kept == {r.doc_id for r in fresh["kept"].select("doc_id").collect()}

    n_docs = res["docs"].count()
    n_mirrors = res["docs"].filter("text LIKE 'mirror of %'").count()
    assert n_mirrors > 10
    # mirror families collapse to one survivor each, and the mirror
    # (two words longer) wins keep-longest; allow a small LSH miss
    # tail (short pages can fall under the Jaccard threshold)
    n_kept = len(kept)
    assert n_docs - n_mirrors <= n_kept <= n_docs - int(0.9 * n_mirrors)
    surviving_mirrors = res["kept"].filter("text LIKE 'mirror of %'").count()
    assert surviving_mirrors >= int(0.9 * n_mirrors)
    # and the collapse count equals the surviving-mirror count: each
    # clustered family dropped exactly its original
    assert n_docs - n_kept == res["docs"].count() - res["clusters"] \
        .select("component").distinct().count()


def test_analytics_job_fail_after_resumes_and_matches_fresh(spark, tmp_path):
    """Analytics mart: crash after the hotspots stage; relaunch resumes
    (committed snapshots untouched) and every layer equals a fresh
    run. Layer invariants: density mass conserves 16x the entity
    count; dbscan members sum to the entity count; Moran's I emits
    one row."""
    from fagi_spark.jobs import analytics

    out = str(tmp_path / "am")
    with pytest.raises(RuntimeError, match="injected failure"):
        analytics.run(spark, out, n_pages=800, fail_after="hotspots")
    store = CheckpointStore(out)
    before = {s: store.latest(s) for s in ("entities", "density", "hotspots")}
    assert store.latest("summary") is None

    res = analytics.run(spark, out, n_pages=800)
    for s, snap in before.items():
        assert res["store"].latest(s) == snap  # resumed, not recomputed

    fresh = analytics.run(spark, str(tmp_path / "am2"), n_pages=800)
    for layer in ("density", "hotspots", "lisa", "summary", "hulls",
                  "global_stats"):
        a = sorted(map(tuple, res[layer].collect()))
        b = sorted(map(tuple, fresh[layer].collect()))
        assert a == b, layer

    n_ents = res["entities"].count()
    mass = res["density"].agg(F.sum("density16")).first()[0]
    assert mass == 16 * n_ents  # binomial kernel conserves mass
    members = res["summary"].agg(F.sum("n_points")).first()[0] or 0
    noise = res["clusters"].filter("role = 'noise'").count()
    assert members + noise == n_ents
    assert res["global_stats"].count() == 1



def test_mobility_job_fail_after_resumes_and_matches_fresh(spark, tmp_path):
    """Mobility mart: crash after the stays stage; relaunch resumes
    (committed snapshots untouched) and every layer equals a fresh
    run. Layer invariants: snapped pings never exceed pings; the
    summary's traversal total equals the traversals layer; stays cover
    at least two events each."""
    from fagi_spark.jobs import mobility

    out = str(tmp_path / "mob")
    with pytest.raises(RuntimeError, match="injected failure"):
        mobility.run(spark, out, n_users=40, pings_per_user=25,
                     fail_after="stays")
    store = CheckpointStore(out)
    before = {s: store.latest(s) for s in ("pings", "traversals", "stays")}
    assert store.latest("summary") is None

    res = mobility.run(spark, out, n_users=40, pings_per_user=25)
    for s, snap in before.items():
        assert res["store"].latest(s) == snap  # resumed, not recomputed

    fresh = mobility.run(spark, str(tmp_path / "mob2"),
                         n_users=40, pings_per_user=25)
    for layer in ("traversals", "stays", "od", "profiles", "summary"):
        a = sorted(map(tuple, res[layer].collect()))
        b = sorted(map(tuple, fresh[layer].collect()))
        assert a == b, layer

    # profile invariants: one row per user, sane ranges
    prof = res["profiles"].collect()
    assert len(prof) == 40
    for p in prof:
        assert p.rg_cells >= 0.0 and 0.0 < p.routine_frac <= 1.0
        assert p.n_teleports >= 0 and p.total_dwell_s >= 0

    n_pings = res["pings"].count()
    snapped = res["traversals"].agg(F.sum("n_pings")).first()[0] or 0
    assert 0 < snapped <= n_pings
    assert res["traversals"].count() > 0
    s_tr = res["summary"].agg(F.sum("n_traversals")).first()[0]
    assert s_tr == res["traversals"].count()
    assert res["stays"].filter(F.col("n_events") < 2).count() == 0


def test_graph_job_fail_after_resumes_and_matches_fresh(spark, tmp_path):
    """Link-graph mart: crash after ranks; relaunch resumes (committed
    snapshots untouched) and every layer equals a fresh run. Layer
    invariants: rank mass stays positive, BFS hop labels never exceed
    the bound and every reached node also carries a weighted distance,
    the summary's host total equals the component layer."""
    from fagi_spark.jobs import graph

    out = str(tmp_path / "gr")
    with pytest.raises(RuntimeError, match="injected failure"):
        graph.run(spark, out, n_hosts=300, n_edges=1500,
                  fail_after="ranks")
    store = CheckpointStore(out)
    before = {s: store.latest(s) for s in ("edges", "components", "ranks")}
    assert store.latest("summary") is None

    res = graph.run(spark, out, n_hosts=300, n_edges=1500)
    for s, snap in before.items():
        assert res["store"].latest(s) == snap  # resumed, not recomputed

    fresh = graph.run(spark, str(tmp_path / "gr2"),
                      n_hosts=300, n_edges=1500)
    for layer in ("components", "reach", "dist", "summary"):
        a = sorted(map(tuple, res[layer].collect()))
        b = sorted(map(tuple, fresh[layer].collect()))
        assert a == b, layer
    # ranks are floats from identical committed inputs -> identical too
    a = sorted(map(tuple, res["ranks"].collect()))
    b = sorted(map(tuple, fresh["ranks"].collect()))
    assert a == b

    assert res["ranks"].agg(F.sum("rank")).first()[0] > 0
    reach = {r["node"]: r["hops"] for r in res["reach"].collect()}
    dist = {r["node"]: r["dist"] for r in res["dist"].collect()}
    assert reach and set(reach) == set(dist)
    assert max(reach.values()) <= 3
    assert all(dist[n] == 0 for n, h in reach.items() if h == 0)
    s_hosts = res["summary"].agg(F.sum("n_hosts")).first()[0]
    assert s_hosts == res["components"].count()
