"""End-to-end pipeline tests (SURVEY.md §5.2 tiers 3-5): equivalence vs the
single-node reference oracle, resume, partition invariance, plan hygiene."""

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from mxsparkg.extract import extract_pages
from mxsparkg.pipeline import (
    DEFAULT_CHECKPOINT_STAGES,
    run_pipeline,
    triples_for_eval,
)
from reference_impl.tagger import canon_from_aliases, run_reference, triple_prf

CKPT = "/tmp/mxsparkg_test_ckpt"


@pytest.fixture(scope="module")
def pipeline_result(spark, tiny_fixtures):
    shutil.rmtree(CKPT, ignore_errors=True)
    return run_pipeline(
        spark,
        f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        CKPT,
    )


@pytest.fixture(scope="module")
def reference_result(tiny_fixtures):
    pages = pq.read_table(f"{tiny_fixtures}/pages.parquet").to_pylist()
    ed = {}
    for r in pq.read_table(f"{tiny_fixtures}/entity_dict.parquet").to_pylist():
        ed.setdefault(r["surface_norm"], []).append((r["entity_id"], r["prior"]))
    pairs = [
        (r["entity_id"], r["canon_id"])
        for r in pq.read_table(f"{tiny_fixtures}/gold_canon.parquet").to_pylist()
    ]
    return run_reference(pages, dictionary=ed, canon_map=canon_from_aliases(pairs))


def _triples(df):
    return {tuple(r) for r in triples_for_eval(df).collect()}


def test_triple_pr_vs_reference(pipeline_result, reference_result):
    spark_t = _triples(pipeline_result["triples"])
    ref_t = {
        (t["subj"], t["pred"], t["obj"], t["url"])
        for t in reference_result["triples"]
    }
    p, r, f = triple_prf(spark_t, ref_t)
    assert p >= 0.95 and r >= 0.95, (p, r)  # north_rule; 1.0 by construction
    assert (p, r) == (1.0, 1.0)


def test_triple_pr_vs_gold(pipeline_result, tiny_fixtures):
    spark_t = _triples(pipeline_result["triples"])
    gold = {
        (t["subj"], t["pred"], t["obj"], t["url"])
        for t in pq.read_table(f"{tiny_fixtures}/gold_triples.parquet").to_pylist()
    }
    p, r, _ = triple_prf(spark_t, gold)
    assert (p, r) == (1.0, 1.0)


def test_mentions_match_gold_spans(pipeline_result, tiny_fixtures):
    got = {
        (r["url"], r["m_start"], r["m_end"], r["etype"])
        for r in pipeline_result["mentions"]
        .filter("etype in ('pers','org','loc')")
        .collect()
    }
    gold = {
        (m["url"], m["m_start"], m["m_end"], m["etype"])
        for m in pq.read_table(f"{tiny_fixtures}/gold_mentions.parquet").to_pylist()
    }
    assert got == gold


def test_extracted_text_byte_identity(pipeline_result, tiny_fixtures):
    got = {
        r["url"]: r["text"] for r in pipeline_result["pages_clean"].collect()
    }
    for row in pq.read_table(f"{tiny_fixtures}/pages.parquet").to_pylist():
        assert got[row["url"]] == row["text"]


def _manifest(root, stage):
    with open(f"{root}/{stage}._manifest.json") as f:
        return json.load(f)


def test_manifest_wall_is_metrics_wall(spark, pipeline_result):
    """One stage record: every committed stage's `_metrics` rows carry the
    wall_ms its manifest committed. Runs before any test that rewrites
    the shared checkpoint's manifests."""
    from mxsparkg.metrics import read_metrics

    walls: dict = {}
    for r in read_metrics(spark, CKPT).select("stage", "wall_ms").collect():
        walls.setdefault(r["stage"], set()).add(r["wall_ms"])
    assert walls == {
        s: {_manifest(CKPT, s)["wall_ms"]} for s in DEFAULT_CHECKPOINT_STAGES
    }


def test_metrics_rows_are_the_part_files(spark, pipeline_result):
    """One `_metrics` row per part file of every committed stage, keyed by
    its part number; the rows_out of a stage sum to its manifest's rows."""
    from mxsparkg.metrics import read_metrics

    rows = read_metrics(spark, CKPT).collect()
    for s in DEFAULT_CHECKPOINT_STAGES:
        parts = sorted(
            int(f.split("-")[1])
            for f in os.listdir(f"{CKPT}/{s}") if f.startswith("part-")
        )
        mine = [r for r in rows if r["stage"] == s]
        assert sorted(r["partition_id"] for r in mine) == parts, s
        assert sum(r["rows_out"] for r in mine) == _manifest(CKPT, s)["rows"]


def test_detect_lineage_is_the_page_files(spark, tiny_fixtures,
                                          pipeline_result):
    """The detect rows' input_files are the page files it read, not its
    own output files."""
    from mxsparkg.metrics import read_metrics

    pages = sorted(
        spark.read.parquet(f"{tiny_fixtures}/pages.parquet").inputFiles())
    detect = read_metrics(spark, CKPT).filter("stage = 'detect'").collect()
    assert detect
    assert all(r["input_files"] == pages for r in detect)


def test_telemetry_launches_no_jobs(spark, pipeline_result, tmp_path):
    """Reading a committed stage and appending its `_metrics` rows launch
    no Spark job: the manifest carries the schema, and the rows come from
    the driver's file listing and the parquet footers."""
    from mxsparkg.catalog import Checkpointer
    from mxsparkg.metrics import append_metrics, read_metrics

    sc = spark.sparkContext
    ck = Checkpointer(spark, CKPT)
    for name, call in (
        ("read", lambda: ck.read("edges")),
        ("append_metrics", lambda: append_metrics(
            spark, str(tmp_path), ck.read("edges"), "edges", 1.0)),
    ):
        group = f"test_telemetry_launches_no_jobs_{name}"
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], name
    got = read_metrics(spark, str(tmp_path)).collect()
    assert sum(r["rows_out"] for r in got) == _manifest(CKPT, "edges")["rows"]


def test_concurrent_metrics_appends_all_land(spark, pipeline_result, tmp_path):
    """append_metrics takes no lock: each call commits its own file, so
    concurrent appends (the pipeline runs stages on two threads) lose no
    rows."""
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    from mxsparkg.catalog import Checkpointer
    from mxsparkg.metrics import append_metrics, read_metrics

    edges = Checkpointer(spark, CKPT).read("edges")
    n_files = len(edges.inputFiles())
    stages = [f"s{i}" for i in range(32)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [pool.submit(append_metrics, spark, str(tmp_path), edges,
                                s, 1.0) for s in stages]
            for f in futs:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    got = Counter(r["stage"] for r in read_metrics(spark, str(tmp_path))
                  .select("stage").collect())
    assert got == {s: n_files for s in stages}


def test_resume_skips_and_matches(spark, tiny_fixtures, pipeline_result):
    """Re-run against the same checkpoint root: all stages read back, output
    identical (north_rule checkpoint-resume)."""
    before = _triples(pipeline_result["triples"])
    res2 = run_pipeline(
        spark,
        f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        CKPT,
    )
    assert _triples(res2["triples"]) == before


def test_partition_invariance(spark, tiny_fixtures, pipeline_result):
    """Results identical when the whole input is one partition."""
    one = "/tmp/mxsparkg_test_onepart"
    shutil.rmtree(one, ignore_errors=True)
    os.makedirs(one)
    spark.read.parquet(f"{tiny_fixtures}/pages.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{one}/pages.parquet")
    res1 = run_pipeline(
        spark,
        f"{one}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        f"{one}/ckpt",
    )
    assert _triples(res1["triples"]) == _triples(pipeline_result["triples"])


def test_incremental_delta_ingest(spark, tiny_fixtures, pipeline_result):
    """J5/T2 delta resume: run on 60% of the corpus, then incrementally on
    the full corpus — only new urls are detected (append), downstream
    recomputes, final triples equal the full-run triples."""
    root = "/tmp/mxsparkg_test_incr"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet")
    sub = pages.orderBy("url").limit(300)
    sub.write.mode("overwrite").parquet(f"{root}/pages_sub.parquet")

    run_pipeline(
        spark, f"{root}/pages_sub.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        f"{root}/ckpt",
    )
    with open(f"{root}/ckpt/detect._manifest.json") as f:
        rows_before = json.load(f)["rows"]

    res2 = run_pipeline(
        spark, f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        f"{root}/ckpt", incremental=True,
    )
    with open(f"{root}/ckpt/detect._manifest.json") as f:
        m = json.load(f)
    assert m["appends"] == 1 and m["rows"] > rows_before
    assert _triples(res2["triples"]) == _triples(pipeline_result["triples"])

    # re-running incrementally again is a no-op append (0 new urls)
    res3 = run_pipeline(
        spark, f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        f"{root}/ckpt", incremental=True,
    )
    assert _triples(res3["triples"]) == _triples(pipeline_result["triples"])


def test_html_pruned_after_extract(spark, tiny_fixtures):
    """Plan hygiene: downstream of extract_pages, `html` is gone and the
    detect input schema carries only url+text."""
    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet")
    clean = extract_pages(pages)
    assert "html" not in clean.columns
    plan = clean.select("url", "text")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "Python" in plan


def test_lang_filter_pushed_to_scan(spark, tiny_fixtures):
    """Plan hygiene: the P2 language filter reaches the parquet scan as a
    pushed filter (UDFs would be a pushdown barrier if it came after)."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet").filter(
        F.col("lang").isin(["fr"])
    )
    plan = pages._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan

    res = run_pipeline(
        spark,
        f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        "/tmp/mxsparkg_test_langckpt",
        langs=["fr"],
        checkpoint_stages=(),
    )
    langs = {
        r["lang"] for r in res["pages_clean"].select("lang").distinct().collect()
    }
    assert langs == {"fr"}


def test_fold_triples_equivalence(spark, tiny_fixtures, pipeline_result, tmp_path):
    """Folding the triples materialization into the edges job (the bench
    configuration) must not change any result: edges/nodes identical, and
    sum(n_support) over edges reproduces the triples row count exactly.
    Must run BEFORE test_zz_* (which rewrites the shared checkpoint dir
    that pipeline_result's lazy DataFrames read from)."""
    folded = run_pipeline(
        spark,
        f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        str(tmp_path / "fold_ck"),
        checkpoint_stages=("detect", "canon_map", "edges", "nodes"),
    )
    base_edges = {
        (r.subj, r.pred, r.obj, r.n_support)
        for r in pipeline_result["edges"].collect()
    }
    fold_edges = {
        (r.subj, r.pred, r.obj, r.n_support)
        for r in folded["edges"].collect()
    }
    assert base_edges == fold_edges
    assert folded["nodes"].count() == pipeline_result["nodes"].count()
    n_support_sum = sum(n for _, _, _, n in fold_edges)
    assert n_support_sum == pipeline_result["triples"].count()


def test_zz_resume_after_midpipeline_death(spark, tiny_fixtures, pipeline_result):
    """SURVEY §5.5b: simulate dying between stages — drop the manifests of
    every stage after detect (as if the job was killed mid-canonicalize);
    the re-run recomputes only those and matches the original output.
    Runs LAST (zz): it rewrites the shared checkpoint dir, which
    invalidates other tests' lazily-read DataFrames."""
    expected = _triples(pipeline_result["triples"])
    expected_nodes = pipeline_result["nodes"].count()
    for stage in ("canon_map", "triples", "edges", "nodes"):
        os.remove(f"{CKPT}/{stage}._manifest.json")
    res = run_pipeline(
        spark,
        f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        CKPT,
    )
    assert _triples(res["triples"]) == expected
    assert res["nodes"].count() == expected_nodes


def test_metrics_rows_written(spark, pipeline_result):
    from mxsparkg.metrics import read_metrics

    m = read_metrics(spark, CKPT)
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"detect", "triples", "edges", "nodes"} <= stages
    row = m.filter("stage = 'detect'").first()
    assert row["rows_out"] > 0 and row["wall_ms"] > 0
    assert isinstance(row["input_files"], list)


def test_pipeline_propagates_reliable_checkpoint(
    spark, tiny_fixtures, tmp_path, monkeypatch
):
    """--reliable-checkpoint reaches connected_components: the cluster-safe
    CC mode (durable per-round checkpoint()) must be drivable from the
    spark-submit surface, not only the API."""
    import mxsparkg.pipeline as P

    captured = {}
    orig = P.G.connected_components

    def spy(edges, **kw):
        captured.update(kw)
        return orig(edges, **kw)

    monkeypatch.setattr(P.G, "connected_components", spy)
    rck = str(tmp_path / "reliable_ck")
    P.run_pipeline(
        spark,
        f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        str(tmp_path / "ck"),
        reliable_checkpoint_dir=rck,
    )
    assert captured.get("reliable_checkpoint_dir") == rck




def test_stage_wall_covers_the_write(spark, tmp_path):
    """The manifest's wall_ms times the stage's execution, not only its
    plan build: fn returns at once, the write job sleeps 1 s inside a
    mapInArrow."""
    import time

    from mxsparkg.catalog import Checkpointer

    def slow(batches):
        time.sleep(1.0)
        yield from batches

    def fn(df):
        return df.mapInArrow(slow, df.schema)

    root = str(tmp_path / "ck")
    Checkpointer(spark, root).run_stage(
        "slow", fn, spark.range(10).coalesce(1)
    )
    m = _manifest(root, "slow")
    assert m["rows"] == 10
    assert m["wall_ms"] >= 1000, m["wall_ms"]


@pytest.mark.parametrize("bad", ["node", "link_mentions"])
def test_unknown_checkpoint_stage_raises(spark, tiny_fixtures, tmp_path, bad):
    """A typo (or a name that is not a stage) must not silently drop a
    checkpoint: run_pipeline refuses it before launching any job or
    creating the checkpoint root."""
    sc = spark.sparkContext
    group = f"test_unknown_checkpoint_stage_raises_{bad}"
    root = tmp_path / "ck"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=bad):
            run_pipeline(
                spark,
                f"{tiny_fixtures}/pages.parquet",
                f"{tiny_fixtures}/entity_dict.parquet",
                f"{tiny_fixtures}/gold_canon.parquet",
                str(root),
                checkpoint_stages=("detect", bad, "edges", "nodes"),
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert not root.exists()


def test_cli_summary_from_manifests(tiny_fixtures, tmp_path):
    """jobs/pipeline.py end to end in its own JVM (local[2]): inline P/R
    against gold, counts equal to the manifests' rows, and one wall per
    committed stage."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = tmp_path / "ck"
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": "--master local[2] pyspark-shell",
    }
    proc = subprocess.run(
        [
            sys.executable, os.path.join(repo, "jobs", "pipeline.py"),
            "--pages", f"{tiny_fixtures}/pages.parquet",
            "--entity-dict", f"{tiny_fixtures}/entity_dict.parquet",
            "--aliases", f"{tiny_fixtures}/gold_canon.parquet",
            "--checkpoint", str(root),
            "--gold", f"{tiny_fixtures}/gold_triples.parquet",
        ],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert (out["precision"], out["recall"]) == (1.0, 1.0)
    rows = {s: _manifest(root, s)["rows"] for s in DEFAULT_CHECKPOINT_STAGES}
    assert out["triples_total"] == rows["triples"]
    assert out["nodes"] == rows["nodes"]
    assert out["edges"] == rows["edges"]
    assert set(out["stage_walls"]) == set(DEFAULT_CHECKPOINT_STAGES)
    assert all(w > 0 for w in out["stage_walls"].values())
