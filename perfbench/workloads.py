"""The workloads: seeded inputs, the op types each runs, and the checks
on every op's output.

Inputs are generated from the seed with ``fagi_spark.synth`` (and the
hot-cell generator below) in plain pandas/numpy, written once per
(seed, size) under the benchmark's data directory behind a ``_SUCCESS``
marker, and read back from there by every load, so every rep of every
run with that seed reads identical bytes.

An op's ``run`` is the timed call into the engine; its ``check`` runs
outside the timed region and raises ``CheckFailed`` when the output is
wrong. A query op's result is an order-independent digest (row count,
sum of 31-bit row hashes, and the pair digest of ``reference.py``): the
pair digest must equal the reference computed without the engine, and
the whole digest must equal the warm pass's on every rep.
"""

from __future__ import annotations

import math
import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import reference as ref
from fagi_spark import cells, fuse, geom, joins, synth
from fagi_spark.checkpoint import CheckpointStore
from fagi_spark.jobs import pipeline

# session conf of the hot-cell ops: no broadcast joins (a gazetteer shard
# too big to broadcast) and no AQE partition coalescing, which at this
# input size would merge the whole join into one task and hide the skew
# a full-size shard has
HOT_CELL_CONF = {"spark.sql.autoBroadcastJoinThreshold": "-1",
                 "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
                 "spark.sql.adaptive.coalescePartitions.enabled": "false"}


class CheckFailed(Exception):
    pass


def _subject_id(col: str):
    return F.regexp_extract(F.col(col), r"(\d+)$", 1).cast("long")


def digest(df, pairs: bool = False) -> tuple[int, ...]:
    """(rows, sum of per-row xxhash64 mod 2^31-1), plus with ``pairs``
    the (sum a_id, sum b_id, sum a_id*b_id) of ``reference.pair_digest``,
    in one aggregate: independent of row order and partitioning."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(2147483647))
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")]
    if pairs:
        a, b = _subject_id("a_subject"), _subject_id("b_subject")
        aggs += [F.sum(a).alias("sa"), F.sum(b).alias("sb"), F.sum(a * b).alias("sab")]
    row = df.agg(*aggs).first()
    return tuple(int(v or 0) for v in row)


@dataclass
class Op:
    name: str
    jvm_layer: str
    run: object                 # callable(tracer) -> result, timed
    check: object               # callable(result) -> digest, untimed
    py_layer: str | None = None
    conf: dict = field(default_factory=dict)   # session conf while it runs
    candidates: int | None = None   # join candidate pairs, when not read from the plan


def materialize(path: str, tables) -> str:
    """Write ``tables()`` (name -> (pandas frame, n files)) as parquet
    under ``path`` once; the ``_SUCCESS`` marker is written last, so a
    killed run's partial output is rebuilt."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        for name, (pdf, n_files) in tables().items():
            os.makedirs(os.path.join(path, name))
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            step = -(-len(pdf) // n_files)
            for i in range(n_files):
                pq.write_table(table.slice(i * step, step),
                               os.path.join(path, name, f"part-{i:03d}.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def _read(spark, path, name):
    return spark.read.parquet(os.path.join(path, name))


def _persisted(df):
    df = df.persist()
    df.count()
    return df


# ---------------------------------------------------------------------------
# crawl_pipeline
# ---------------------------------------------------------------------------

# the generators jobs.pipeline calls, before a rep swaps in seeded ones
_GAZETTEER_PDF, _METADATA_PDF = synth.gazetteer_pdf, synth.metadata_pdf

STAGE_LAYERS = {"pages": ("checkpoint", "checkpoint"),
                "entities": ("cells", "extract"),
                "links": ("joins", "discover"),
                "fused": ("fuse", "geom"),
                "tiles": ("cells", "cells")}


class CrawlPipeline:
    """The shipped ``jobs.pipeline.run`` at ``n_pages``, one fresh
    ``CheckpointStore`` root per rep. ``run`` takes no seed and
    synthesizes its own inputs, so each rep swaps the seeded ones into
    ``synth`` for the duration of the call: the pages stage ingests the
    materialized page table, and the gazetteer is generated with the
    run's seed.

    Chance label matches give only a handful of links at this size (none
    on some seeds), so the gazetteer also carries ``PLANTED`` true
    matches: places at the lat/long of a page that names one place only,
    labelled with that page's label (the first 40 characters of its
    text), which every correct run must link. The committed snapshots
    are checked with pyarrow, not Spark."""

    name = "crawl_pipeline"
    PLANTED = 10
    loads = 1           # the input is read lazily: nothing to repeat
    # the first rep is cold (~3x a warm one) and the next still runs
    # ~15% slow while the JVM compiles the stages' code
    warm_passes = 2

    def __init__(self, n_pages: int):
        self.n_pages = n_pages

    def materialize(self, data_dir, seed):
        def tables():
            pdf = synth.page_batch(np.arange(self.n_pages), seed)
            pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
            return {"pages": (pdf, 8)}

        self.seed = seed
        self.path = materialize(os.path.join(data_dir, f"crawl-s{seed}-p{self.n_pages}"),
                                tables)

    def load(self, spark, work_dir):
        self.spark, self.work_dir, self.reps = spark, work_dir, 0
        self.pages_path = os.path.join(self.path, "pages")

    def reference(self):
        pages = pq.read_table(self.pages_path, columns=["url", "text"]).to_pandas()
        self.pages = pages.sort_values("url", ignore_index=True)
        self.n_gaz = max(1000, self.n_pages // 100)
        single = pages[~pages["text"].str.contains("also lat|geometry|boundary|branch office")]
        at = single["text"].str.extract(r"located at lat (\S+) long (\S+) near")
        self.planted = pd.DataFrame({"url": single["url"], "lat": at[0], "lon": at[1],
                                     "label": single["text"].str.slice(0, 40)}
                                    ).head(self.PLANTED).reset_index(drop=True)
        self.planted_b = list(_GAZETTEER_PDF(self.n_gaz, "b", self.seed)["subject"]
                              [:len(self.planted)])

    def _gazetteer(self, n, side, **kw):
        gaz = _GAZETTEER_PDF(n, side, seed=self.seed)
        p = self.planted
        gaz.loc[:len(p) - 1, "geom_wkt"] = "POINT (" + p["lon"] + " " + p["lat"] + ")"
        return gaz

    def _metadata(self, n, side, **kw):
        meta = _METADATA_PDF(n, side, seed=self.seed)
        label = meta[meta["predicate"].str.endswith("label")].iloc[0]
        planted = pd.DataFrame({"subject": self.planted_b, "predicate": label["predicate"],
                                "object": self.planted["label"], "lang": "en",
                                "dtype": None})
        return pd.concat([meta[~meta["subject"].isin(self.planted_b)], planted],
                         ignore_index=True)

    @contextmanager
    def _seeded_inputs(self):
        saved = (synth.synth_pages, synth.gazetteer_pdf, synth.metadata_pdf)
        synth.synth_pages = lambda spark, n, **kw: spark.read.parquet(self.pages_path)
        synth.gazetteer_pdf, synth.metadata_pdf = self._gazetteer, self._metadata
        try:
            yield
        finally:
            synth.synth_pages, synth.gazetteer_pdf, synth.metadata_pdf = saved

    @contextmanager
    def _stage_spans(self, tracer):
        """Wrap ``CheckpointStore.run_stage`` and ``commit`` in spans."""
        if tracer is None:
            yield
            return
        run_stage, commit = CheckpointStore.run_stage, CheckpointStore.commit

        def traced_run_stage(store, spark, stage, *a, **kw):
            with tracer.span(f"run_stage:{stage}", "checkpoint"):
                return run_stage(store, spark, stage, *a, **kw)

        def traced_commit(store, df, stage, *a, **kw):
            jvm, py = STAGE_LAYERS[stage]
            with tracer.span(f"commit:{stage}", jvm, py, "checkpoint"):
                return commit(store, df, stage, *a, **kw)

        CheckpointStore.run_stage, CheckpointStore.commit = traced_run_stage, traced_commit
        try:
            yield
        finally:
            CheckpointStore.run_stage, CheckpointStore.commit = run_stage, commit

    def _run(self, tracer):
        self.reps += 1
        root = os.path.join(self.work_dir, f"ckpt-{self.reps}")
        shutil.rmtree(root, ignore_errors=True)
        with self._seeded_inputs(), self._stage_spans(tracer):
            out = pipeline.run(self.spark, root, self.n_pages)
        return root, out["store"]

    def _check(self, result):
        root, store = result
        try:
            snaps = [store.latest(s) for s in pipeline.STAGES]
            if snaps != [0] * len(pipeline.STAGES):
                raise CheckFailed(f"fresh root did not commit every stage once: {snaps}")

            def snap(stage, cols):
                return pq.read_table(os.path.join(root, stage, "snap_0"),
                                     columns=cols).to_pandas()

            pages = snap("pages", ["url", "text"]).sort_values("url", ignore_index=True)
            if len(pages) != self.n_pages:
                raise CheckFailed(f"pages {len(pages)} != {self.n_pages}")
            if not pages.equals(self.pages):
                raise CheckFailed("committed page text differs from the input")
            ents = snap("entities", ["url"])["url"]
            # every page carries a lat/long entity; dedup keeps one per url
            if len(ents) != self.n_pages or set(ents) != set(self.pages["url"]):
                raise CheckFailed(f"entities {len(ents)}: not one per page")
            links = snap("links", ["node_a", "node_b"])
            b_ids = ref.subject_ids(links["node_b"])
            if (not links["node_a"].isin(self.pages["url"]).all()
                    or not ((b_ids >= 0) & (b_ids < self.n_gaz)).all()):
                raise CheckFailed("links are not all page x gazetteer pairs")
            found = set(zip(links["node_a"], links["node_b"]))
            missed = [(a, b) for a, b in zip(self.planted["url"], self.planted_b)
                      if (a, b) not in found]
            if len(self.planted) < self.PLANTED or missed:
                raise CheckFailed(f"planted matches not linked: {missed}")
            self.lineage = {s: store.lineage(s) for s in pipeline.STAGES}
            n_fused = self.lineage["fused"]["n_rows"]
            if n_fused != len(links):
                raise CheckFailed(f"fused {n_fused} != links {len(links)}")
            tiled = int(snap("tiles", ["n_entities"])["n_entities"].sum())
            if tiled != len(ents):
                raise CheckFailed(f"tiles hold {tiled} entities, not {len(ents)}")
            return tuple(self.lineage[s]["n_rows"] for s in pipeline.STAGES)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def ops(self):
        return [Op("pipeline", "jobs.pipeline", self._run, self._check,
                   py_layer="geom")]

    def cross_check(self, digests):
        return []

    def hot_cell_share(self, spark):
        from fagi_spark import extract
        ents = extract.geocode_pages(spark.read.parquet(self.pages_path))
        return _hot_share(ents.select(F.col("lon").alias("cx"), F.col("lat").alias("cy")),
                          3000.0)

    def counts(self):
        lin = getattr(self, "lineage", None)
        if lin is None:
            return {}
        n_bytes = sum(r["n_bytes"] for s in lin.values() for r in s["lineage"])
        return {"extract.entities_per_page": lin["entities"]["n_rows"] / self.n_pages,
                "checkpoint.bytes_per_page": n_bytes / self.n_pages,
                "links": lin["links"]["n_rows"]}


# ---------------------------------------------------------------------------
# conflation_queries
# ---------------------------------------------------------------------------

def _hot_share(df, radius_m):
    """Largest cell's share of rows at the resolution ``radius_m``
    selects."""
    res = cells.res_for_radius_deg(radius_m / geom.METERS_PER_DEGREE)
    c = df.groupBy(cells.cell_col(F.col("cx"), F.col("cy"), res).alias("c")).count()
    row = c.agg(F.max("count").alias("m"), F.sum("count").alias("n")).first()
    return row["m"] / row["n"] if row["n"] else 0.0


def skewed_points(n: int, hot_n: int, side: str, seed: int, radius_m: float):
    """``hot_n`` of ``n`` points inside ONE grid cell at the resolution
    ``radius_m`` selects; the rest spread uniformly over 2x2 degrees.
    The hot cell's position and every coordinate depend on the seed."""
    res = cells.res_for_radius_deg(radius_m / geom.METERS_PER_DEGREE)
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    hot_lon = (math.floor((9.5 + 0.1 * (seed % 7)) / w) + 0.5) * w
    hot_lat = (math.floor((44.5 + 0.1 * (seed % 5)) / h) + 0.5) * h
    ids = np.arange(n)
    salt = 600 if side == "a" else 700

    def u(k):
        return synth.u01(ids, salt + k, seed)

    hot = ids < hot_n
    lon = np.where(hot, hot_lon + (u(1) - 0.5) * 0.9 * w, 9.0 + u(3) * 2.0)
    lat = np.where(hot, hot_lat + (u(2) - 0.5) * 0.9 * h, 44.0 + u(4) * 2.0)
    return pd.DataFrame({"subject": [f"{side}{i}" for i in ids], "cx": lon, "cy": lat,
                         "xmin": lon, "xmax": lon, "geom_kind": "POINT"})


@dataclass
class Expected:
    pairs: tuple[int, int, int, int]    # reference.pair_digest of the result
    candidates: int | None = None


def _radius_expected(a: pd.DataFrame, b: pd.DataFrame, radius_m: float,
                     width_guard_deg: float = 0.01) -> tuple[Expected, tuple]:
    """Reference of ``joins.radius_join(a, b, radius_m)`` from the
    inputs' (subject, cx, cy, xmin, xmax), and its ring candidates at
    the resolution and ring the engine's ``cells`` helpers pick. Also
    returns the raw pairs (i, j, dist) for derived references."""
    b = b[(b["xmax"] - b["xmin"]) < width_guard_deg].reset_index(drop=True)
    r = radius_m / geom.METERS_PER_DEGREE
    ax, ay = a["cx"].to_numpy(), a["cy"].to_numpy()
    bx, by = b["cx"].to_numpy(), b["cy"].to_numpy()
    i, j = ref.radius_pairs(ax, ay, bx, by, r)
    a_ids, b_ids = ref.subject_ids(a["subject"]), ref.subject_ids(b["subject"])
    res = cells.res_for_radius_deg(r)
    kx, ky = cells.ring_k_for_radius(r, res)
    exp = Expected(ref.pair_digest(a_ids[i], b_ids[j]),
                   ref.ring_candidates(ax, ay, bx, by, res, kx, ky))
    dx, dy = ax[i] - bx[j], ay[i] - by[j]
    dist = np.sqrt(dx * dx + dy * dy)
    return exp, (a_ids, b_ids, b["subject"].to_numpy(), i, j, dist)


class ConflationQueries:
    """An interactive FAGI workspace over persisted inputs, read only.

    Conflation op types run over an entity table (``synth.gazetteer_pdf``
    rows with page urls as subjects) and an A/B gazetteer pair, all
    loaded from raw WKT through ``fuse.prepare_geoms`` and persisted.
    Hot-cell op types (prefix ``hot_``) run ``radius_join`` unsalted and
    salted over a skewed point pair: one cell at the 200 m join
    resolution holds ``hot_a`` of A and ``hot_b`` of B
    (``HOT_CELL_CONF`` while they run)."""

    name = "conflation_queries"
    loads = 3           # each load persists the inputs again
    warm_passes = 1
    RADIUS_M = 3000.0
    HOT_RADIUS_M = 200.0

    def __init__(self, n_ents: int, n_gaz: int, n_a: int, n_b: int, hot_a: int,
                 hot_b: int):
        self.n_ents, self.n_gaz = n_ents, n_gaz
        self.n_a, self.n_b, self.hot_a, self.hot_b = n_a, n_b, hot_a, hot_b

    def materialize(self, data_dir, seed):
        def tables():
            # entities near the same cities as the gazetteer, at other points
            ents = synth.gazetteer_pdf(self.n_gaz + self.n_ents, "a", seed)[self.n_gaz:]
            ents["subject"] = [f"https://site{i % 1000}.example/p/{i}"
                               for i in range(self.n_ents)]
            out = {"entities": (ents.reset_index(drop=True), 8)}
            for side in ("a", "b"):
                out[f"gaz_{side}"] = (synth.gazetteer_pdf(self.n_gaz, side, seed), 4)
            r = self.HOT_RADIUS_M
            out["hot_a"] = (skewed_points(self.n_a, self.hot_a, "a", seed, r), 8)
            out["hot_b"] = (skewed_points(self.n_b, self.hot_b, "b", seed, r), 8)
            return out

        self.seed = seed
        key = (f"conf-s{seed}-e{self.n_ents}-g{self.n_gaz}"
               f"-a{self.n_a}-b{self.n_b}-h{self.hot_a}.{self.hot_b}")
        self.path = materialize(os.path.join(data_dir, key), tables)

    def load(self, spark, work_dir):
        p = self.path
        self.ents, self.gaz_a, self.gaz_b = (_persisted(fuse.prepare_geoms(_read(spark, p, n)))
                                             for n in ("entities", "gaz_a", "gaz_b"))
        self.hot_a, self.hot_b = (_persisted(_read(spark, p, n)) for n in ("hot_a", "hot_b"))

    def reference(self):
        """Expected results of every op, from the loaded inputs: the
        radius references use the prepared centroids and envelopes (the
        columns ``radius_join`` reads), the intersects reference parses
        the raw WKT itself."""
        cols = ["subject", "cx", "cy", "xmin", "xmax"]
        ents, gaz_b = self.ents.select(*cols).toPandas(), self.gaz_b.select(*cols).toPandas()
        exp = {"radius_join": _radius_expected(ents, gaz_b, self.RADIUS_M)[0]}

        wkt = [pq.read_table(os.path.join(self.path, n), columns=["subject", "geom_wkt"])
               .to_pandas() for n in ("gaz_a", "gaz_b")]
        i, j = ref.intersects_pairs(wkt[0]["geom_wkt"], wkt[1]["geom_wkt"])
        exp["intersects_join"] = Expected(ref.pair_digest(
            ref.subject_ids(wkt[0]["subject"])[i], ref.subject_ids(wkt[1]["subject"])[j]))

        ha, hb = (pq.read_table(os.path.join(self.path, n)).to_pandas()
                  for n in ("hot_a", "hot_b"))
        hot, (a_ids, b_ids, b_subj, i, j, dist) = _radius_expected(ha, hb, self.HOT_RADIUS_M)
        exp["hot_radius_unsalted"] = exp["hot_radius_salted"] = hot
        # knn_join(k=1): per A row the nearest B, ties by b_subject
        near = (pd.DataFrame({"i": i, "d": dist, "s": b_subj[j], "j": j})
                .sort_values(["i", "d", "s"]).drop_duplicates("i"))
        exp["hot_knn1"] = Expected(ref.pair_digest(a_ids[near["i"].to_numpy()],
                                                   b_ids[near["j"].to_numpy()]))
        self.expected = exp

    def _check(self, name, d):
        want = self.expected[name].pairs
        got = (d[0],) + d[2:]
        if got != want:
            raise CheckFailed(f"{name}: pair digest {got} != reference {want}")
        return d

    def _op(self, name, make_df, conf=None):
        return Op(name, "joins", lambda tracer: digest(make_df(), pairs=True),
                  partial(self._check, name), conf=conf or {},
                  candidates=self.expected[name].candidates)

    def ops(self):
        e, a, b, r = self.ents, self.gaz_a, self.gaz_b, self.RADIUS_M
        ha, hb, hr = self.hot_a, self.hot_b, self.HOT_RADIUS_M
        q = self._op
        return [
            q("radius_join", lambda: joins.radius_join(e, b, r)),
            q("intersects_join", lambda: joins.intersects_join(a, b)),
            q("hot_radius_unsalted",
              lambda: joins.radius_join(ha, hb, hr, expand_side="probe"), conf=HOT_CELL_CONF),
            q("hot_radius_salted",
              lambda: joins.radius_join(ha, hb, hr, n_salts=8, expand_side="probe"),
              conf=HOT_CELL_CONF),
        ]

    def cross_check(self, digests):
        """Checks across op types, run once after the warm pass."""
        errs = []
        if digests.get("hot_radius_salted") != digests.get("hot_radius_unsalted"):
            errs.append("salted hot radius_join differs from unsalted")
        knn = joins.knn_join(self.hot_a, self.hot_b, 1, self.HOT_RADIUS_M)
        try:
            self._check("hot_knn1", digest(knn.select("a_subject", "b_subject"), pairs=True))
        except CheckFailed as e:
            errs.append(f"knn_join(k=1): {e}")
        return errs

    def hot_cell_share(self, spark):
        return _hot_share(self.hot_a, self.HOT_RADIUS_M)

    def counts(self):
        return {}
