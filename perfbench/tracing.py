"""Traced pass of the pipeline benchmark (--trace 1).

1. One run_pipeline call on a fresh checkpoint; whole-run job count from
   the Spark status store.
2. A replay of the same stages one public call at a time, each under its
   own Spark job group, committed through the same Checkpointer; its
   nodes/edges/triples digest must equal the run_pipeline call's.
3. The link calls alone into a noop sink, the committed tables re-written
   through catalog.write_table, and the in-process textcore breakdown.

Per-layer names are <module>.<stage>.<measure>; PER_LAYER lists them all.
"""

from __future__ import annotations

import os
import shutil
import time

import probe

SPARK_STAGES = ("detect.stage", "link.mentions", "link.triples",
                "graph.canon_map", "graph.triples", "graph.edges",
                "graph.nodes")
PIPELINE_GROUPS = ("detect.stage", "graph.canon_map", "graph.triples",
                   "graph.edges", "graph.nodes", "metrics.append")
CATALOG_STAGES = ("detect", "canon_map", "triples", "edges", "nodes")

PER_LAYER = (
    "textcore.extract.us_per_doc",
    "textcore.tokenize.us_per_doc",
    "textcore.generalize.us_per_doc",
    "textcore.generalize.cache_hit_rate",
    "textcore.match_sentence.us_per_doc",
    "textcore.match_sentence.prune_cache_hit_rate",
    "textcore.resolve.us_per_doc",
    "textcore.match_predicates.us_per_doc",
    "textcore.tag_text.us_per_doc",
    "textcore.tag_text.mentions_per_doc",
    "textcore.tag_text.triples_per_doc",
    "detect.arrow_build.us_per_doc",
    "detect.core.us_per_doc",
    "detect.worker_overhead.us_per_doc",
    "detect.stage.python_s",
    "detect.stage.input_partitions",
    *(f"{s}.{m}" for s in SPARK_STAGES for m in probe.STAGE_MEASURES),
    "graph.canon_map.rounds",
    "graph.canon_map.distributed",
    "link.mentions.nil_rate",
    *(f"catalog.{s}.{m}" for s in CATALOG_STAGES
      for m in ("write_s", "bytes_mb", "rows")),
    "catalog.detect.append_s",
    "metrics.append.wall_s",
    "metrics.append.jobs",
    "pipeline.run.wall_s",
    "pipeline.run.jobs",
    "pipeline.replay.wall_s",
    "pipeline.replay.idle_core_s",
    "pipeline.replay.detect_run_share",
    "pipeline.replay.link_graph_run_share",
    "pipeline.trace.overhead_s",
)


def unit(name: str) -> str:
    measure = name.rsplit(".", 1)[1]
    if measure.endswith("us_per_doc"):
        return "us"
    if measure.endswith("_per_doc"):
        return "1/doc"
    if measure.endswith("_mb"):
        return "MB"
    if measure.endswith("_s"):
        return "s"
    if measure.endswith(("_rate", "_share", "skew")):
        return "ratio"
    return "count"


class Replay:
    """run_pipeline's stage sequence, one timed call per stage."""

    def __init__(self, wl, checkpoint: str):
        self.wl, self.ck_dir = wl, checkpoint
        self.walls: dict[str, float] = {}
        self.cc_stats: dict = {}

    def timed(self, group: str, fn):
        self.wl.spark.sparkContext.setJobGroup(group, group)
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls[group] = (self.walls.get(group, 0.0)
                                 + time.perf_counter() - t)

    def run(self):
        from mxsparkg import graph as G
        from mxsparkg import link as L
        from mxsparkg.catalog import Checkpointer, read_table
        from mxsparkg.detect import (broadcast_model, detect_pages,
                                     split_detections)
        from mxsparkg.metrics import append_metrics

        spark, info = self.wl.spark, self.wl.info
        ck = Checkpointer(spark, self.ck_dir)

        def commit(stage: str, group: str, fn, *inputs):
            done = ck.is_done(stage)
            t0 = time.time()
            out = self.timed(group, lambda: ck.run_stage(stage, fn, *inputs))
            if not done:
                wall_ms = (time.time() - t0) * 1000.0
                self.timed("metrics.append", lambda: append_metrics(
                    spark, self.ck_dir, out, stage, wall_ms))
            return out

        self.wl.spark.sparkContext.setJobGroup("replay.setup", "")
        model_bc = broadcast_model(spark)
        self.pages = pages = read_table(spark, info["pages"])
        edict = read_table(spark, info["entity_dict"])
        with_context = (L.dict_stats(edict)["max_cw"] or 0) > 0
        aliases = read_table(spark, info["aliases"])

        def s_detect(p):
            return detect_pages(p, model_bc, with_context=with_context)

        detections = commit("detect", "detect.stage", s_detect, pages)
        mentions, raw_triples = split_detections(detections)
        self.linked = linked = L.link_mentions(mentions, edict)
        triples_linked = L.link_triples(raw_triples, edict)
        for group, df in (("link.mentions", linked),
                          ("link.triples", triples_linked)):
            self.timed(group, lambda: df.write.format("noop")
                       .mode("overwrite").save())
        canon = commit(
            "canon_map", "graph.canon_map",
            lambda a: G.connected_components(G.sameas_edges(a),
                                             stats=self.cc_stats),
            aliases)
        triples = commit("triples", "graph.triples",
                         lambda t: G.rewrite_canonical(t, canon),
                         triples_linked)
        commit("edges", "graph.edges", G.materialize_edges, triples)
        commit("nodes", "graph.nodes",
               lambda m: G.materialize_nodes(m, canon), linked)
        return with_context


def _sample_htmls(pages_dir: str, n: int) -> list[bytes]:
    import pyarrow.parquet as pq

    first = sorted(f for f in os.listdir(pages_dir) if f.endswith(".parquet"))[0]
    t = pq.read_table(os.path.join(pages_dir, first), columns=["html"])
    return t.column("html").to_pylist()[:n]


def traced(wl, untraced_wall: float, sample_docs: int = 1000) -> dict:
    from pyspark.sql import functions as F

    from mxsparkg.catalog import Checkpointer, read_table, write_table

    spark = wl.spark
    sc = spark.sparkContext
    store = probe.StatusStore(spark)
    out: dict[str, float] = {}

    # 1. one untouched run_pipeline call
    ck_run = wl.prepare()
    before = set(store.job_ids())
    out["pipeline.run.wall_s"] = wl.call(ck_run)
    out["pipeline.run.jobs"] = len(set(store.job_ids()) - before)
    digest = probe.kg_digest(ck_run)
    if digest != wl.reference:
        raise probe.BenchError("traced run_pipeline digest != reference")

    # 2. stage-by-stage replay
    ck_rep = wl.prepare()
    rep = Replay(wl, ck_rep)
    with_context = rep.run()
    if probe.kg_digest(ck_rep) != digest:
        raise probe.BenchError("replay digest != run_pipeline digest")
    cores = probe.cores()
    figs = {}
    for g in (*SPARK_STAGES, "metrics.append"):
        figs[g] = {"wall_s": rep.walls.get(g, 0.0), **store.group(g)}
    for g in SPARK_STAGES:
        for m in probe.STAGE_MEASURES:
            out[f"{g}.{m}"] = figs[g][m]
    out["metrics.append.wall_s"] = figs["metrics.append"]["wall_s"]
    out["metrics.append.jobs"] = figs["metrics.append"]["jobs"]
    out["graph.canon_map.rounds"] = rep.cc_stats.get("rounds", 0)
    out["graph.canon_map.distributed"] = float(
        rep.cc_stats.get("path") == "distributed")
    replay_wall = sum(figs[g]["wall_s"] for g in PIPELINE_GROUPS)
    out["pipeline.replay.wall_s"] = replay_wall
    out["pipeline.replay.idle_core_s"] = sum(
        cores * figs[g]["wall_s"] - figs[g]["run_s"] for g in PIPELINE_GROUPS)
    run_total = sum(figs[g]["run_s"] for g in PIPELINE_GROUPS[:-1])
    graph_run = sum(figs[g]["run_s"] for g in PIPELINE_GROUPS[1:-1])
    out["pipeline.replay.detect_run_share"] = (
        figs["detect.stage"]["run_s"] / run_total)
    out["pipeline.replay.link_graph_run_share"] = graph_run / run_total
    out["pipeline.trace.overhead_s"] = replay_wall - untraced_wall

    # 3. link NIL share, catalog re-writes, in-process textcore/detect
    sc.setJobGroup("probe", "")
    out["link.mentions.nil_rate"] = rep.linked.agg(
        F.avg(F.col("nil").cast("double"))).first()[0]
    out["detect.stage.input_partitions"] = rep.pages.rdd.getNumPartitions()
    scratch = os.path.join(wl.work, "catalog_rewrite")
    # Checkpointer.append of the committed detections into a copy of the
    # detect stage: the delta-ingest commit path's I/O and encoding cost
    app = os.path.join(scratch, "append")
    shutil.copytree(os.path.join(ck_rep, "detect"), os.path.join(app, "detect"))
    shutil.copy(os.path.join(ck_rep, "detect._manifest.json"), app)
    sc.setJobGroup("catalog", "")
    t = time.perf_counter()
    Checkpointer(spark, app).append(
        read_table(spark, os.path.join(ck_rep, "detect")), "detect")
    out["catalog.detect.append_s"] = time.perf_counter() - t
    for stage in CATALOG_STAGES:
        src = os.path.join(ck_rep, stage)
        t = time.perf_counter()
        write_table(read_table(spark, src), os.path.join(scratch, stage))
        out[f"catalog.{stage}.write_s"] = time.perf_counter() - t
        out[f"catalog.{stage}.bytes_mb"] = probe.dir_mb(src)
        out[f"catalog.{stage}.rows"] = probe.manifest_rows(ck_rep, stage)
    shutil.rmtree(scratch, ignore_errors=True)
    for ck in (ck_run, ck_rep):
        shutil.rmtree(ck, ignore_errors=True)

    out.update(probe.textcore_breakdown(
        _sample_htmls(wl.info["pages"], sample_docs), with_context))
    det = figs["detect.stage"]
    out["detect.stage.python_s"] = det["run_s"] - det["jvm_cpu_s"]
    detected = wl.detected_docs
    core = det["run_s"] * 1e6 / detected if detected else 0.0
    out["detect.core.us_per_doc"] = core
    out["detect.worker_overhead.us_per_doc"] = core - (
        out["textcore.extract.us_per_doc"]
        + out["textcore.tag_text.us_per_doc"]) if core else 0.0
    missing = set(PER_LAYER) - set(out)
    if missing:
        raise probe.BenchError(f"per-layer metrics missing: {sorted(missing)}")
    return {k: out[k] for k in PER_LAYER}
