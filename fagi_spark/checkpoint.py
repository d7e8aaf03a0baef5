"""Checkpoint / lineage / counters: resumable staged commits.

The reference's durability story is PostGIS transactions + an explicit
Virtuoso ``checkpoint`` call after each fusion batch
(GeometryFuser.java:81-91; SPARQLUtilities.java:69-99 — SURVEY.md §4).
Our engine replaces both with snapshot-committed stage outputs:

- each pipeline stage writes its full output to a *staging* directory,
  then atomically publishes it by writing a pointer file — the
  filesystem stand-in for an Iceberg snapshot commit (on a real
  deployment ``commit()`` maps 1:1 onto
  ``df.writeTo(table).createOrReplace()`` + recording the snapshot id);
- a **lineage table** records, per committed snapshot, one row per
  output file/partition with row counts and byte sizes, plus the stage
  metrics observed during the producing job (north rule: "resumable
  from checkpoint with per-partition lineage + metrics");
- **counters**: aggregate expressions evaluated with one column-pruned
  scan of the committed snapshot. (``DataFrame.observe`` would ride the
  producing job for free, but in Spark 4.1 each Observation leaves a
  non-serializable ObservationManager entry on the session that later
  poisons unrelated RDD-closure serialization — pyspark.ml's LinearSVC
  failed with ``NotSerializableException: ObservationManager`` after
  any observed commit. A pruned parquet scan of the just-written stage
  output is the robust alternative);
- ``run_stage`` is the resume primitive: if the stage already has a
  committed snapshot, its output is *loaded, not recomputed* — killing
  a pipeline after stage k and relaunching replays nothing before k+1.

Snapshot ids are content-independent monotonic ints; partial writes are
invisible (staging dir is published only after a successful write), so
a crash mid-write leaves the previous snapshot intact.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

LINEAGE_SCHEMA = ("stage string, snapshot_id int, file string, "
                  "n_rows bigint, n_bytes bigint, committed_at double")


class CheckpointStore:
    """Directory-layout snapshot store.

    <root>/<stage>/snap_<id>/            committed parquet data
    <root>/<stage>/_staging_<id>_<pid>/  in-flight write (never read)
    <root>/<stage>/LATEST            text pointer: committed id
    <root>/<stage>/snap_<id>.lineage.json   per-partition lineage + metrics
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- pointers ---------------------------------------------------------

    def _stage_dir(self, stage: str) -> str:
        d = os.path.join(self.root, stage)
        os.makedirs(d, exist_ok=True)
        return d

    def latest(self, stage: str) -> int | None:
        p = os.path.join(self.root, stage, "LATEST")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            txt = f.read().strip()
        return int(txt) if txt else None

    def _publish(self, stage: str, snap_id: int) -> None:
        """Atomic pointer flip: write-temp + rename (POSIX atomic)."""
        d = self._stage_dir(stage)
        tmp = os.path.join(d, f".LATEST.tmp.{snap_id}")
        with open(tmp, "w") as f:
            f.write(str(snap_id))
        os.replace(tmp, os.path.join(d, "LATEST"))

    # -- commit / load ----------------------------------------------------

    def commit(self, df: DataFrame, stage: str,
               metrics: dict | None = None) -> int:
        """Write ``df`` as the next snapshot of ``stage``; publish only
        after the write completes; record per-file lineage rows.

        Lineage is read from the parquet FOOTERS of the just-written
        files (pyarrow metadata — bytes per file, no data scan, no
        Spark job), not by re-reading the snapshot: a groupBy over the
        staged output would be a second full read of every committed
        stage — 2x write-stage I/O at 100 TB. On an Iceberg deployment
        the same rows come free from the snapshot's manifest entries."""
        prev = self.latest(stage)
        snap_id = 0 if prev is None else prev + 1
        d = self._stage_dir(stage)
        # staging name carries the pid so two concurrent commits never
        # clobber each other's in-flight write
        staging = os.path.join(d, f"_staging_{snap_id}_{os.getpid()}")

        df.write.mode("overwrite").parquet(staging)

        import pyarrow.parquet as pq
        now = time.time()
        lin_rows = []
        for fname in sorted(os.listdir(staging)):
            if not fname.endswith(".parquet"):
                continue
            fpath = os.path.join(staging, fname)
            meta = pq.ParquetFile(fpath).metadata
            lin_rows.append({"stage": stage, "snapshot_id": snap_id,
                             "file": fname, "n_rows": meta.num_rows,
                             "n_bytes": os.path.getsize(fpath),
                             "committed_at": now})

        # Publish section runs under a per-stage O_EXCL lock file: two
        # live writers committing the same stage serialize here instead
        # of racing (the filesystem analog of Iceberg's optimistic
        # commit — one writer wins the snapshot id, the other retries
        # with the next id; nobody deletes another writer's staged or
        # just-renamed data). The lock also makes the crash-window
        # repair safe: a previous run may have died after
        # os.replace(staging, final) but before _publish wrote LATEST,
        # leaving an orphaned unpublished snap dir — with the lock
        # held, "id > LATEST" really does mean "never published, no
        # live writer owns it", but we additionally require the orphan
        # to be OLDER than our own staging write so a paused-but-alive
        # writer's fresh rename is never destroyed.
        import errno
        import shutil
        lock_path = os.path.join(d, ".commit.lock")
        lock_fd = self._acquire_lock(lock_path)
        try:
            cur = self.latest(stage)
            snap_id = 0 if cur is None else cur + 1
            final = os.path.join(d, f"snap_{snap_id}")
            if os.path.exists(final):
                # Every writer holds the lock across replace->publish,
                # so an id > LATEST dir observed WITH the lock held can
                # only be a dead writer's orphan (its stale lock was
                # broken above) — repairable. Guard actually enforced:
                # the orphan must be OLDER than our own staging write;
                # a FRESHER dir means a paused-but-alive writer lost
                # its lock to staleness mid-publish, and destroying its
                # just-renamed data would be the silent loss this lock
                # exists to prevent — claim the next id instead.
                try:
                    orphan_fresh = (os.path.getmtime(final)
                                    >= os.path.getmtime(staging))
                except OSError:
                    orphan_fresh = True  # can't prove it's old: keep it
                if orphan_fresh:
                    snap_id += 1
                    final = os.path.join(d, f"snap_{snap_id}")
                else:
                    shutil.rmtree(final)
            last_err = None
            for _ in range(5):
                try:
                    os.replace(staging, final)
                    last_err = None
                    break
                except OSError as e:
                    last_err = e
                    # only the publish race leaves ENOTEMPTY/EEXIST;
                    # anything else (EXDEV, EACCES, damaged staging)
                    # is a real failure — re-raised below
                    if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                        raise
                    snap_id += 1
                    final = os.path.join(d, f"snap_{snap_id}")
            if last_err is not None:
                raise last_err
            for r in lin_rows:
                r["snapshot_id"] = snap_id
            with open(os.path.join(d, f"snap_{snap_id}.lineage.json"), "w") as f:
                json.dump({"lineage": lin_rows, "metrics": metrics or {},
                           "n_files": len(lin_rows),
                           "n_rows": sum(r["n_rows"] for r in lin_rows)}, f)
            self._publish(stage, snap_id)
        finally:
            os.close(lock_fd)
            try:
                os.unlink(lock_path)
            except OSError:
                pass
        return snap_id

    def vacuum(self, stage: str, keep_last: int = 2) -> list[int]:
        """Expire old snapshots (Iceberg expire_snapshots analog):
        delete committed snapshot dirs and their lineage files beyond
        the newest ``keep_last``, never touching the published LATEST.
        Runs under the same per-stage commit lock as publish, so it
        cannot race a live writer's replace->publish window or delete
        an in-flight staging dir (those are ``_staging_*``-named and
        skipped entirely). Returns the expired snapshot ids.

        At warehouse scale this is the retention job that keeps a
        resumable pipeline's checkpoint root from growing without
        bound while still leaving a time-travel window."""
        import re
        import shutil
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        d = self._stage_dir(stage)
        cur = self.latest(stage)
        if cur is None:
            return []
        lock_path = os.path.join(d, ".commit.lock")
        lock_fd = self._acquire_lock(lock_path)
        removed = []
        try:
            ids = sorted(int(m.group(1))
                         for f in os.listdir(d)
                         if (m := re.fullmatch(r"snap_(\d+)", f)))
            # keep the newest keep_last PUBLISHED ids (ids beyond
            # LATEST are unpublished writer state — never touched)
            published = [i for i in ids if i <= cur]
            for i in published[:-keep_last]:
                shutil.rmtree(os.path.join(d, f"snap_{i}"),
                              ignore_errors=True)
                try:
                    os.unlink(os.path.join(d, f"snap_{i}.lineage.json"))
                except OSError:
                    pass
                removed.append(i)
        finally:
            os.close(lock_fd)
            try:
                os.unlink(lock_path)
            except OSError:
                pass
        return removed

    def diff(self, spark: SparkSession, stage: str, from_id: int,
             to_id: int | None = None):
        """Changelog between two snapshots of a stage (Iceberg
        incremental-read analog): returns (added, removed) DataFrames —
        rows in ``to_id`` (default LATEST) but not ``from_id``, and
        vice versa, multiset semantics via exceptAll. Feeds incremental
        consumers (re-tile only changed cells, re-export only changed
        links) without replaying the whole table."""
        new = self.load(spark, stage, to_id)
        old = self.load(spark, stage, from_id)
        return new.exceptAll(old), old.exceptAll(new)

    @staticmethod
    def _acquire_lock(lock_path: str, timeout_s: float = 60.0,
                      stale_s: float = 300.0) -> int:
        """O_CREAT|O_EXCL per-stage commit lock with bounded wait; a
        lock file older than ``stale_s`` is treated as left by a dead
        process and broken. Returns the open fd (caller closes +
        unlinks)."""
        deadline = time.time() + timeout_s
        while True:
            if time.time() > deadline:
                # checked FIRST so no error path below can skip it
                # (a persistently unreadable lock file must raise, not
                # busy-spin forever)
                raise TimeoutError(
                    f"commit lock {lock_path} held for >{timeout_s}s")
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                return fd
            except FileExistsError:
                try:
                    holder_dead = False
                    with open(lock_path) as lf:
                        txt = lf.read().strip()
                    if txt.isdigit():
                        try:
                            os.kill(int(txt), 0)  # same-host liveness
                        except ProcessLookupError:
                            holder_dead = True
                        except PermissionError:
                            pass  # alive, other uid
                    if holder_dead or (os.path.getmtime(lock_path)
                                       < time.time() - stale_s):
                        # break the dead/stale lock ATOMICALLY: rename
                        # to a unique name, then unlink the renamed
                        # file. Exactly one waiter wins the rename;
                        # every other waiter's rename/stat raises
                        # ENOENT and loops — unlike a bare unlink,
                        # this can never delete a DIFFERENT waiter's
                        # freshly created lock (the old TOCTOU race:
                        # two waiters both judge the holder dead, one
                        # re-locks, the other's queued unlink removed
                        # the live lock).
                        broken = f"{lock_path}.broken.{os.getpid()}"
                        os.rename(lock_path, broken)
                        os.unlink(broken)
                        continue
                except OSError:
                    pass  # holder released / another waiter broke it
                time.sleep(0.05)

    def load(self, spark: SparkSession, stage: str,
             snapshot_id: int | None = None) -> DataFrame:
        snap_id = self.latest(stage) if snapshot_id is None else snapshot_id
        if snap_id is None:
            raise FileNotFoundError(f"no committed snapshot for stage {stage!r}")
        return spark.read.parquet(os.path.join(self.root, stage, f"snap_{snap_id}"))

    def lineage(self, stage: str, snapshot_id: int | None = None) -> dict:
        snap_id = self.latest(stage) if snapshot_id is None else snapshot_id
        with open(os.path.join(self.root, stage, f"snap_{snap_id}.lineage.json")) as f:
            return json.load(f)

    # -- resume primitive -------------------------------------------------

    def run_stage(self, spark: SparkSession, stage: str, build,
                  observe: dict | None = None, force: bool = False) -> DataFrame:
        """Compute-or-load: if ``stage`` has a committed snapshot (and
        not ``force``), load it; otherwise run ``build()`` (-> DataFrame),
        attach observed counters, commit, and return the committed data.

        ``observe`` maps metric name -> aggregate Column; metrics are
        computed by one column-pruned aggregate over the committed
        snapshot and stored in its lineage file (see module docstring
        for why not ``DataFrame.observe``)."""
        if not force and self.latest(stage) is not None:
            return self.load(spark, stage)
        self.commit(build(), stage)
        out = self.load(spark, stage)
        if observe:
            row = out.agg(*[c.alias(k) for k, c in observe.items()]).first()
            snap_id = self.latest(stage)
            path = os.path.join(self._stage_dir(stage),
                                f"snap_{snap_id}.lineage.json")
            with open(path) as f:
                payload = json.load(f)
            payload["metrics"] = {k: _jsonable(row[k]) for k in observe}
            # the snapshot is already published: rewrite its lineage
            # via write-temp + rename (as _publish does), so a crash
            # mid-dump leaves the old file intact, never truncated JSON
            tmp = f"{path}.tmp.{os.getpid()}"
            try:
                with open(tmp, "w") as f:
                    json.dump(payload, f)
                os.replace(tmp, path)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        return out


def _jsonable(v):
    try:
        json.dumps(v)
        return v
    except TypeError:
        return str(v)
