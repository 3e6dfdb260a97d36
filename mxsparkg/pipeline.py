"""Lifecycle C — the full staged pipeline with checkpoint-resume + metrics
(SURVEY.md §3.4). Each stage is a pure DataFrame→DataFrame function;
Checkpointer skips completed stages on restart (manifest = commit point).

Stage DAG:
  pages → [extract ∘ detect fused, one narrow Arrow stage] → detections
  detections → (mentions | raw_triples)
  mentions  → link → linked_mentions
  raw_triples → link_triples → triples_linked
  alias clusters → sameas → G1 connected components → canon_map
  triples_linked × canon_map → canonical triples → edges
  linked_mentions × canon_map → nodes

Scale design decisions (100 TB posture):
- extract+detect are FUSED into one narrow stage: the fat html/text columns
  never cross a shuffle, and the checkpoint lands on `detections` (~100×
  smaller than extracted text). Work distribution comes from input splits
  (files/row-groups), which bounds partition size regardless of host skew.
- checkpoint_stages controls the resume granularity: by default the
  expensive stage (detect) and the terminal tables are materialized; cheap
  broadcast joins between them (link) are recomputed on resume rather than
  paying a write+read round-trip each run. Names outside
  DEFAULT_CHECKPOINT_STAGES raise ValueError before any job runs.
- independent branches always run concurrently on one session (two driver
  threads): canon_map alongside detect, nodes alongside triples→edges.
  Measured on a 4-core box, the sequential order cost 27-40% more wall.
- each committed stage has one record, its manifest: rows, schema and
  wall_ms (plan build + write). A resumed run reports the walls of the
  run that committed each stage.
- every Spark job of a run is a stage's own write. The `_metrics` rows
  (one per output file: part number, footer row count, the manifest's
  wall_ms, and as lineage the files of the stage's inputs from
  `DataFrame.inputFiles()`) are built and written on the driver, and a
  committed stage is re-read with a known schema instead of an inference
  job (mxsparkg/metrics.py, mxsparkg/catalog.py).
- hot keys in the shuffles (celebrity edges and nodes in the rollups, hub
  nodes in CC) are left to the engine: map-side partial aggregation plus
  AQE's skew-join split. User-level salting measured no better
  (BENCH/CC.md, BENCH/TAIL.md).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mxsparkg import graph as G
from mxsparkg import link as L
from mxsparkg.catalog import Checkpointer, read_table
from mxsparkg.detect import broadcast_model, detect_pages, split_detections
from mxsparkg.extract import extract_pages
from mxsparkg.metrics import append_metrics

DEFAULT_CHECKPOINT_STAGES = ("detect", "canon_map", "triples", "edges", "nodes")


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    entity_dict_path: str,
    alias_clusters_path: str,
    checkpoint_root: str,
    rules: list[dict] | None = None,
    pred_patterns: list[dict] | None = None,
    checkpoint_stages: tuple[str, ...] = DEFAULT_CHECKPOINT_STAGES,
    langs: list[str] | None = None,
    incremental: bool = False,
    reliable_checkpoint_dir: str | None = None,
    pages_format: str = "parquet",
) -> dict[str, DataFrame]:
    unknown = sorted(set(checkpoint_stages) - set(DEFAULT_CHECKPOINT_STAGES))
    if unknown:
        raise ValueError(
            f"unknown checkpoint_stages {unknown}; "
            f"valid: {list(DEFAULT_CHECKPOINT_STAGES)}"
        )
    if pages_format == "warc" and langs:
        raise ValueError(
            "--langs filters the lang column, which raw WARC ingest does "
            "not carry — run language ID on the extracted text "
            "(datapipe.txt_langid) and land a lang column first, or drop "
            "--langs"
        )
    ck = Checkpointer(spark, checkpoint_root)
    model_bc = broadcast_model(spark, rules, pred_patterns)
    ckset = set(checkpoint_stages)

    def stage(name: str, fn, *inputs: DataFrame) -> DataFrame:
        if name not in ckset:
            return fn(*inputs)
        if ck.is_done(name):
            return ck.read(name)
        out = ck.run_stage(name, fn, *inputs)
        append_metrics(
            spark, checkpoint_root, out, name, ck.manifest(name)["wall_ms"],
            input_files={f for df in inputs for f in df.inputFiles()},
        )
        return out

    if pages_format == "warc":
        # raw crawl ingest: WARC files → the pages frame directly (one
        # task per WARC file; see mxsparkg/warc.py). text/lang are not in
        # a crawl — ingest-side language ID (datapipe.txt_langid) is the
        # production prefilter when --langs is wanted on raw WARC
        # (guarded at function entry).
        from mxsparkg.warc import read_warc

        pages = read_warc(spark, pages_path).select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    else:
        pages = read_table(spark, pages_path, fmt=pages_format)
    if langs:
        # P2: declared BEFORE any UDF so Catalyst pushes it into the scan
        # (parquet row-group stats skip non-matching groups; asserted in
        # tests via PushedFilters)
        pages = pages.filter(F.col("lang").isin(langs))

    # adaptive: mention contexts are only worth emitting (python string
    # work + checkpoint bytes) if the dictionary can use them
    edict = read_table(spark, entity_dict_path)
    with_context = (L.dict_stats(edict)["max_cw"] or 0) > 0

    # 1+2. extract (U1) + detect (U3) fused — no shuffle touches html/text:
    # ONE mapInArrow stage (html→text→tag in the same Python worker; text
    # never crosses a process boundary).
    def s_detect(p: DataFrame) -> DataFrame:
        return detect_pages(p, model_bc, with_context=with_context)

    # 4-pre. canonicalize (G1) — CC over same-as chains. sameas_edges
    # builds each cluster's chain inside one groupBy group, so for
    # non-overlapping clusters CC's per-partition contraction already
    # yields a star forest: the canon map is the driver union-find (small
    # graphs) or one leaf/root aggregate, with no star rounds. The alias
    # graph is INDEPENDENT of the page corpus, so its stage always runs
    # concurrently with detect: Spark schedules both threads' jobs on one
    # session, and canon_map's few small jobs fill task slots detect
    # isn't using — its wall cost disappears behind the long stage.
    aliases = read_table(spark, alias_clusters_path)

    def s_canon(_: DataFrame) -> DataFrame:
        # reliable_checkpoint_dir switches CC's lineage truncation from
        # localCheckpoint to durable checkpoint() — the cluster-safe mode
        # (survives executor loss on a real 1000-executor run)
        return G.connected_components(
            G.sameas_edges(aliases),
            reliable_checkpoint_dir=reliable_checkpoint_dir,
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        canon_fut = pool.submit(stage, "canon_map", s_canon, aliases)

        if incremental and ck.is_done("detect"):
            # delta ingest (J5/T2): detect ONLY urls not in the completed
            # checkpoint, append, and invalidate the derived tables. At web
            # scale this is how a grown crawl re-runs without re-tagging
            # 10^12 already-processed pages.
            prev_urls = ck.read("detect").select("url").distinct()
            new_pages = pages.join(prev_urls, on="url", how="left_anti")
            n_new = ck.append(s_detect(new_pages), "detect")
            if n_new > 0:
                ck.invalidate("triples", "edges", "nodes")
            detections = ck.read("detect")
        else:
            detections = stage("detect", s_detect, pages)
        mentions, raw_triples = split_detections(detections)

        # 3. link (J1/W1/J3) — broadcast dictionary joins, cheap: not a
        #    stage of their own; they run fused into the nodes and
        #    triples jobs and are recomputed on resume
        linked = L.link_mentions(mentions, edict)
        triples_linked = L.link_triples(raw_triples, edict)

        canon_map = canon_fut.result()

        # 5. rewrite + materialize graph.
        # nodes depends only on (linked, canon_map) — independent of the
        # triples→edges chain, so the two branches overlap: the wall pays
        # max(triples+edges, nodes) instead of their sum, and each branch's
        # disk-bound checkpoint write overlaps the other's compute.
        # canon_map is passed as a stage input so that its files are in
        # the stage's lineage
        nodes_fut = pool.submit(
            stage, "nodes", G.materialize_nodes, linked, canon_map,
        )
        triples = stage(
            "triples", G.rewrite_canonical, triples_linked, canon_map,
        )
        edges = stage("edges", G.materialize_edges, triples)
        nodes = nodes_fut.result()

    return {
        # pages_clean is derived lazily (not materialized): nothing
        # downstream needs text, but tests/tools can still inspect it
        "pages_clean": extract_pages(pages),
        "detections": detections,
        "mentions": mentions,
        "linked_mentions": linked,
        "triples": triples,
        "canon_map": canon_map,
        "edges": edges,
        "nodes": nodes,
    }


def triples_for_eval(triples: DataFrame) -> DataFrame:
    """Distinct (subj, pred, obj, url) — the P/R comparison unit."""
    return triples.select("subj", "pred", "obj", "url").distinct()
