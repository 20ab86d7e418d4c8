"""The three benchmark workloads.

Each workload makes its inputs from a seed (``make_inputs``, before the
Spark session exists), runs one timed pass over them (``run_pass``),
checks a pass's outputs and reduces them to counts and a digest
(``summarize``) and runs one traced round of calls into the engine's
layers (``trace_round``).

Inputs are read back from parquet on every pass, so the engine only
ever reads warehouse tables, and every pass leaves nothing persisted
(``run.py`` guards that before each pass and each traced call).
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fagi_spark import cells, discover, extract, fuse, geom, joins, synth
from fagi_spark.checkpoint import CheckpointStore
from fagi_spark.jobs import pipeline

import inputs
import reference
from sparkstats import metric_sum

COUNTERS = ("wall_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb",
            "failed_tasks", "task_skew")
CALLS = ("extract.scan", "extract.pipe", "extract.kernel",
         "cells.assign", "cells.tiles", "fuse.prepare_geoms", "fuse.fuse",
         "joins.knn", "discover.candidates", "discover.score",
         "checkpoint.commit", "checkpoint.observe")
RATIOS = ("session.python_boot_s", "extract.hit_page_frac",
          "extract.entities_per_page", "extract.kernel_ms_per_batch",
          "extract.pipe.mb_sent", "extract.pipe.mb_received",
          "joins.ring_replication", "joins.candidates",
          "joins.refine_keep_frac", "joins.matches",
          "discover.links_per_candidate", "discover.score_us_per_pair",
          "checkpoint.mb_written", "checkpoint.files",
          "trace.layers_sum_frac")
JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")

ARROW_BATCH = 2500  # spark.sql.execution.arrow.maxRecordsPerBatch
MB = 2.0 ** 20
ROWS = "number of output rows"


class PassError(Exception):
    """A pass whose outputs fail the check."""


def noop(df) -> None:
    """Run ``df`` to completion into Spark's no-op sink."""
    df.write.format("noop").mode("overwrite").save()


def _pipe_only(batches):
    """Receives what the extract kernel receives (url, text) and returns
    the urls alone, so the return leg stays small like the kernel's."""
    for batch in batches:
        yield batch.select(["url"])


def _n_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def counters(span: dict) -> dict:
    return {k: span[k] for k in COUNTERS}


def diff(hi: dict, lo: dict) -> dict:
    """Counters of the work ``hi`` did beyond ``lo`` (clamped at 0;
    the skew is ``hi``'s own)."""
    out = {k: max(0.0, hi[k] - lo[k]) for k in COUNTERS}
    out["task_skew"] = hi["task_skew"]
    return out


def add(a: dict, b: dict) -> dict:
    out = {k: a[k] + b[k] for k in COUNTERS}
    out["task_skew"] = max(a["task_skew"], b["task_skew"])
    return out


def _above(nodes: list[dict], start: dict, name: str) -> list[dict]:
    """Nodes named ``name*`` on the consumer chain above ``start``,
    nearest first."""
    consumers: dict[int, list[dict]] = {}
    for n in nodes:
        for src in n["inputs"]:
            consumers.setdefault(id(src), []).append(n)
    out, todo, seen = [], [start], set()
    while todo:
        node = todo.pop(0)
        for up in consumers.get(id(node), ()):
            if id(up) in seen:
                continue
            seen.add(id(up))
            if up["name"].startswith(name):
                out.append(up)
            todo.append(up)
    return out


def _below(start: dict, name: str) -> list[dict]:
    """Nodes named ``name*`` in the subtree feeding ``start``, nearest
    first."""
    out, todo, seen = [], list(start["inputs"]), set()
    while todo:
        node = todo.pop(0)
        if id(node) in seen:
            continue
        seen.add(id(node))
        if node["name"].startswith(name):
            out.append(node)
        todo.extend(node["inputs"])
    return out


def ring_replication(nodes: list[dict], join: dict) -> float:
    """Rows out of the cell-ring explode over rows into it, on the side
    of ``join`` that explodes, read from the plan: the explode is the
    chain of Generate nodes feeding the join; its output is the Filter
    right above the topmost one (the ring-bounds test), or that
    Generate's own rows; its input is the nearest node below the
    lowest one that counts rows. A join with no explode replicates
    nothing: 1."""
    gens = _below(join, "Generate")
    if not gens:
        return 1.0
    top, low = gens[0], gens[-1]
    above = _above(nodes, top, "")
    out = (above[0] if above and above[0]["name"] == "Filter" else top)["metrics"][ROWS]
    into = next((n for n in _below(low, "") if ROWS in n["metrics"]), None)
    if into is None:
        raise PassError("no row count below the ring explode")
    return out / into["metrics"][ROWS] if into["metrics"][ROWS] else 0.0


def equi_join_candidates(df) -> float:
    """Pairs out of the first join of ``df``'s analyzed plan, run on its
    own: the engine's equi-join on cells (and salts, if any) before the
    distance test, which the optimizer later fuses into the join's
    condition."""
    todo = [df._jdf.queryExecution().analyzed()]
    while todo:
        plan = todo.pop(0)
        if plan.getClass().getSimpleName() == "Join":
            jvm = df.sparkSession.sparkContext._jvm
            return float(jvm.org.apache.spark.sql.classic.Dataset
                         .ofRows(df.sparkSession._jsparkSession, plan).count())
        kids = plan.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    raise PassError("no join in the knn_join plan")


def join_ratios(span: dict, candidates: float) -> dict:
    """joins.* ratios of one traced ``knn_join`` call, from its plan's
    SQL metrics; ``candidates`` from ``equi_join_candidates``."""
    nodes = span["nodes"]
    join = next((n for n in nodes if n["name"].startswith(JOIN_NODES)), None)
    if join is None:
        raise PassError("no join node in the knn_join plan")
    kept = join["metrics"].get(ROWS, 0.0)
    top_k = _above(nodes, join, "Filter")
    matches = top_k[-1]["metrics"].get(ROWS, 0.0) if top_k else kept
    return {"joins.ring_replication": ring_replication(nodes, join),
            "joins.candidates": candidates,
            "joins.refine_keep_frac": kept / candidates if candidates else 0.0,
            "joins.matches": matches}


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, root: str, seed: int, smoke: bool):
        self.seed = seed
        self.size = self.sizes["smoke" if smoke else "full"]
        self.scale = "smoke" if smoke else "full"
        self.data = os.path.join(root, "inputs")
        self.work = os.path.join(root, "work")
        self.rows = 0

    def conf(self) -> dict:
        return {}

    def make_inputs(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Untimed set-up that needs the session (after ``setup_s``)."""

    def run_pass(self, spark, k: int):
        raise NotImplementedError

    def summarize(self, out) -> dict:
        """Counts plus an order-free digest of one pass's outputs;
        raises ``PassError`` when an invariant does not hold."""
        raise NotImplementedError

    def cleanup(self, out) -> None:
        """Drop what a pass left on disk (untimed)."""

    def trace_round(self, spark, tracer) -> tuple[dict, dict]:
        """One traced round: ({call: counters}, {ratio: value})."""
        raise NotImplementedError

    def _extract_chain(self, tracer, pages) -> tuple[dict, dict]:
        """extract.scan/pipe/kernel and cells.assign as differences
        between four no-op sink actions over the same pages: the
        projection, the projection through a pass-through
        ``mapInArrow``, ``extract_entities(resolutions=())`` and
        ``extract_entities`` with its cell columns."""
        proj = pages.select("url", "text")
        with tracer.span("extract.scan") as s0:
            noop(proj)
        with tracer.span("extract.scan+pipe") as s1:
            noop(proj.mapInArrow(_pipe_only, "url string"))
        with tracer.span("extract.scan+pipe+kernel") as s2:
            noop(extract.extract_entities(pages, resolutions=()))
        with tracer.span("extract.scan+pipe+kernel+cells.assign") as s3:
            noop(extract.extract_entities(pages))
        c = [counters(s) for s in (s0, s1, s2, s3)]
        calls = {"extract.scan": c[0], "extract.pipe": diff(c[1], c[0]),
                 "extract.kernel": diff(c[2], c[1]),
                 "cells.assign": diff(c[3], c[2])}
        py_s = (metric_sum(s2["nodes"], "MapInArrow", "time to run Python workers")
                - metric_sum(s1["nodes"], "MapInArrow", "time to run Python workers"))
        ratios = {
            "extract.entities_per_page":
                metric_sum(s2["nodes"], "MapInArrow", ROWS) / self.rows,
            "extract.kernel_ms_per_batch":
                max(0.0, py_s) * 1e3 / math.ceil(self.rows / ARROW_BATCH),
            "extract.pipe.mb_sent":
                metric_sum(s2["nodes"], "MapInArrow", "data sent to Python workers") / MB,
            "extract.pipe.mb_received":
                metric_sum(s2["nodes"], "MapInArrow", "data returned from Python workers") / MB,
        }
        return calls, ratios


class GeocodeConflate(Workload):
    """The north-rule pipeline, call for call as ``bench.run_pipeline``:
    geocode (local dedup) -> gazetteer prep -> kNN conflation join ->
    res-7 tile rollup."""
    name = "geocode_conflate"
    sizes = {"full": {"pages": 20_000, "gazetteer": 6000},
             "smoke": {"pages": 2000, "gazetteer": 6000}}
    RADIUS_M = 2000.0

    def make_inputs(self):
        self.rows = self.size["pages"]
        self.pages = inputs.pages(self.data, self.seed, self.rows)
        self.gaz = inputs.gazetteer(self.data, self.seed, self.size["gazetteer"])

    def run_pass(self, spark, k):
        pages = spark.read.parquet(self.pages)
        n_pages = pages.count()
        ents = extract.geocode_pages(pages, dedup_mode="local").persist()
        gb = fuse.prepare_geoms(spark.read.parquet(self.gaz)).persist()
        gb.count()
        ga = ents.select(F.col("url").alias("subject"),
                         F.col("lon").alias("cx"), F.col("lat").alias("cy"))
        matched = joins.knn_join(ga, gb, k_neighbors=1, radius_m=self.RADIUS_M)
        tiles = (ents.groupBy(F.col("cell_r7").alias("tile"))
                 .agg(F.count(F.lit(1)).alias("n_entities")))
        m = matched.select("a_subject", "b_subject", "dist_deg").toArrow()
        t = tiles.toArrow()
        ents.unpersist()
        gb.unpersist()
        return n_pages, m, t

    def summarize(self, out):
        n_pages, m, t = out
        rows_m = reference.rows_of(m, ["a_subject", "b_subject", "dist_deg"])
        rows_t = reference.rows_of(t, ["tile", "n_entities"])
        if n_pages != self.rows:
            raise PassError(f"read {n_pages} pages, wrote {self.rows}")
        # every synthetic page carries exactly one winning entity
        if sum(r[1] for r in rows_t) != n_pages:
            raise PassError("tile counts do not add up to one entity per page")
        if len({r[0] for r in rows_m}) != len(rows_m):
            raise PassError("a page matched more than once with k=1")
        limit = self.RADIUS_M / geom.METERS_PER_DEGREE
        if any(r[2] > limit for r in rows_m):
            raise PassError("a match lies beyond the join radius")
        return {"matches": len(rows_m), "tiles": len(rows_t),
                "digest": reference.digest(rows_m + rows_t)}

    def trace_round(self, spark, tracer):
        pages = spark.read.parquet(self.pages)
        calls, ratios = self._extract_chain(tracer, pages)
        ents_path = os.path.join(self.work, "ents")
        gb_path = os.path.join(self.work, "gazetteer")
        with tracer.untimed():
            extract.geocode_pages(pages, dedup_mode="local").write.mode(
                "overwrite").parquet(ents_path)
        gaz = spark.read.parquet(self.gaz)
        with tracer.span("fuse.prepare_geoms") as s:
            noop(fuse.prepare_geoms(gaz))
        calls["fuse.prepare_geoms"] = counters(s)
        with tracer.untimed():
            fuse.prepare_geoms(gaz).write.mode("overwrite").parquet(gb_path)
        ents = spark.read.parquet(ents_path)
        ga = ents.select(F.col("url").alias("subject"),
                         F.col("lon").alias("cx"), F.col("lat").alias("cy"))
        gb = spark.read.parquet(gb_path)
        knn = joins.knn_join(ga, gb, 1, self.RADIUS_M)
        with tracer.span("joins.knn") as s:
            noop(knn)
        calls["joins.knn"] = counters(s)
        with tracer.untimed():
            candidates = equi_join_candidates(knn)
        ratios.update(join_ratios(s, candidates))
        with tracer.span("cells.tiles") as s:
            noop(ents.groupBy(F.col("cell_r7").alias("tile"))
                 .agg(F.count(F.lit(1)).alias("n_entities")))
        calls["cells.tiles"] = counters(s)
        ratios["extract.hit_page_frac"] = _n_rows(ents_path) / self.rows
        return calls, ratios


class ConflateSkewed(Workload):
    """kNN conflation of two point tables with one hot cell, broadcast
    off: shuffle, the top-k window and skew, with no extract work."""
    name = "conflate_skewed"
    sizes = {"full": {"points": 60_000, "hot": 800},
             "smoke": {"points": 2000, "hot": 200}}
    RADIUS_M = inputs.SKEW_RADIUS_M

    def conf(self):
        return {"spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}

    def make_inputs(self):
        n, hot = self.size["points"], self.size["hot"]
        self.rows = n
        self.a = inputs.points_table(self.data, self.seed, n, hot, "a")
        self.b = inputs.points_table(self.data, self.seed, n, hot, "b")
        self.answer = reference.knn1(
            inputs.skewed_points(self.seed, n, hot, "a"),
            inputs.skewed_points(self.seed, n, hot, "b"),
            self.RADIUS_M / geom.METERS_PER_DEGREE)

    def _join(self, spark):
        return joins.knn_join(spark.read.parquet(self.a),
                              spark.read.parquet(self.b), 1, self.RADIUS_M)

    def run_pass(self, spark, k):
        return self._join(spark).select("a_subject", "b_subject", "dist_deg").toArrow()

    def summarize(self, out):
        rows = reference.rows_of(out, ["a_subject", "b_subject", "dist_deg"])
        if rows != self.answer:
            raise PassError(f"{len(rows)} matches differ from the numpy "
                            f"reference's {len(self.answer)}")
        return {"matches": len(rows), "digest": reference.digest(rows)}

    def trace_round(self, spark, tracer):
        knn = self._join(spark)
        with tracer.span("joins.knn") as s:
            noop(knn)
        with tracer.untimed():
            candidates = equi_join_candidates(knn)
        return {"joins.knn": counters(s)}, join_ratios(s, candidates)


class FusionJob(Workload):
    """The resumable job ``jobs.pipeline.run`` on sparse pages (one in
    ten carries geo text), resuming from a pre-committed pages stage."""
    name = "fusion_job"
    sizes = {"full": {"pages": 10_000}, "smoke": {"pages": 2000}}
    GEO_EVERY = 10
    STAGES = ("entities", "links", "fused", "tiles")

    def make_inputs(self):
        self.rows = self.size["pages"]
        # the job builds its gazetteer from synth.SEED, so the page
        # cities stay on that layout and the seed picks the page ids
        self.pages = inputs.pages(self.data, self.seed, self.rows,
                                  geo_every=self.GEO_EVERY,
                                  synth_seed=synth.SEED)

    def prepare(self, spark):
        self.template = os.path.join(self.work, "store-template")
        shutil.rmtree(self.template, ignore_errors=True)
        CheckpointStore(self.template).commit(spark.read.parquet(self.pages), "pages")

    def _fresh_store(self, k) -> str:
        out = os.path.join(self.work, f"store-{k}")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.template, out, copy_function=os.link)
        return out

    def run_pass(self, spark, k):
        out = self._fresh_store(k)
        pipeline.run(spark, out, self.rows)
        return out

    def cleanup(self, out):
        shutil.rmtree(out, ignore_errors=True)

    def summarize(self, out):
        store = CheckpointStore(out)
        rows, counts = [], {}
        for stage in self.STAGES:
            t = pq.read_table(os.path.join(out, stage, f"snap_{store.latest(stage)}"))
            stage_rows = reference.rows_of(t, sorted(t.column_names))
            if store.lineage(stage)["n_rows"] != len(stage_rows):
                raise PassError(f"{stage}: lineage rows differ from the snapshot")
            counts[stage] = len(stage_rows)
            rows += [(stage,) + r for r in stage_rows]
        tiles = pq.read_table(os.path.join(out, "tiles", f"snap_{store.latest('tiles')}"))
        if sum(tiles.column("n_entities").to_pylist()) != counts["entities"]:
            raise PassError("tile counts do not add up to the entities")
        return {**counts, "digest": reference.digest(rows)}

    def trace_round(self, spark, tracer):
        store = CheckpointStore(self._fresh_store("trace"))
        pages = store.load(spark, "pages")
        calls, ratios = self._extract_chain(tracer, pages)
        commit = observe = None
        written = {"bytes": 0, "files": 0}

        def stage(name, build, compute_span, observe_cols):
            nonlocal commit, observe
            with tracer.span(f"checkpoint.commit[{name}]") as s:
                store.commit(build(), name)
            c = diff(counters(s), counters(compute_span))
            commit = c if commit is None else add(commit, c)
            lin = store.lineage(name)
            written["bytes"] += sum(r["n_bytes"] for r in lin["lineage"])
            written["files"] += lin["n_files"]
            loaded = store.load(spark, name)
            with tracer.span(f"checkpoint.observe[{name}]") as s:
                loaded.agg(*observe_cols).first()
            observe = counters(s) if observe is None else add(observe, counters(s))
            return loaded

        # the calls of jobs.pipeline.run, stage by stage
        with tracer.span("extract.geocode") as s_geo:
            noop(extract.geocode_pages(pages))
        entities = stage("entities", lambda: extract.geocode_pages(pages), s_geo,
                         [F.count(F.lit(1)), F.sum(F.when(
                             F.col("geom_kind") == "POINT", 1).otherwise(0))])
        n_gaz = max(1000, self.rows // 100)
        gaz = spark.createDataFrame(synth.gazetteer_pdf(n_gaz, "b"))
        with tracer.span("fuse.prepare_geoms") as s:
            noop(fuse.prepare_geoms(gaz))
        calls["fuse.prepare_geoms"] = counters(s)
        gb_path = os.path.join(self.work, "gazetteer")
        with tracer.untimed():
            fuse.prepare_geoms(gaz).write.mode("overwrite").parquet(gb_path)
        geo_b = spark.read.parquet(gb_path)
        meta_b = spark.createDataFrame(synth.metadata_pdf(n_gaz, "b"))
        ga = entities.select(F.col("url").alias("subject"), "geom_wkt", "geom_kind",
                             "kind_rank", "npoints",
                             F.col("lon").alias("cx"), F.col("lat").alias("cy"),
                             "xmin", "ymin", "xmax", "ymax")
        meta_a = pages.select(F.col("url").alias("subject"),
                              F.lit("http://fagi/label").alias("predicate"),
                              F.substring("text", 1, 40).alias("object"),
                              F.lit("en").alias("lang"),
                              F.lit(None).cast("string").alias("dtype"))

        def links_df():
            return (discover.discover_links(ga, geo_b, meta_a, meta_b,
                                            radius_m=3000.0, threshold=0.2)
                    .select("node_a", "node_b"))

        with tracer.span("discover.candidates") as s_cand:
            noop(discover.candidate_frame(ga, geo_b, meta_a, meta_b, 3000.0))
        with tracer.span("discover.candidates+score") as s_score:
            noop(links_df())
        calls["discover.candidates"] = counters(s_cand)
        calls["discover.score"] = diff(counters(s_score), counters(s_cand))
        n_cand = metric_sum(s_score["nodes"], "MapInPandas", ROWS)
        links = stage("links", links_df, s_score, [F.count(F.lit(1))])

        def fused_df():
            return fuse.fuse("keep-most-points", links, ga, geo_b, late_fetch=True)

        with tracer.span("fuse.fuse") as s_fuse:
            noop(fused_df())
        calls["fuse.fuse"] = counters(s_fuse)
        stage("fused", fused_df, s_fuse, [F.count(F.lit(1))])

        def tiles_df():
            return (entities.groupBy(cells.cell_col(F.col("lon"), F.col("lat"), 7)
                                     .alias("tile"))
                    .agg(F.count(F.lit(1)).alias("n_entities")))

        with tracer.span("cells.tiles") as s_tiles:
            noop(tiles_df())
        calls["cells.tiles"] = counters(s_tiles)
        stage("tiles", tiles_df, s_tiles, [F.count(F.lit(1))])

        calls["checkpoint.commit"] = commit
        calls["checkpoint.observe"] = observe
        n_links = store.lineage("links")["n_rows"]
        ratios.update({
            "extract.hit_page_frac": store.lineage("entities")["n_rows"] / self.rows,
            "discover.links_per_candidate": n_links / n_cand if n_cand else 0.0,
            "discover.score_us_per_pair":
                calls["discover.score"]["wall_s"] * 1e6 / n_cand if n_cand else 0.0,
            "checkpoint.mb_written": written["bytes"] / MB,
            "checkpoint.files": float(written["files"]),
        })
        shutil.rmtree(store.root, ignore_errors=True)
        return calls, ratios


WORKLOADS = {w.name: w for w in (GeocodeConflate, ConflateSkewed, FusionJob)}


def load_expected(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)
