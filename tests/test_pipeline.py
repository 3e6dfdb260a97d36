"""End-to-end pipeline tests (SURVEY.md §5.2 tiers 3-5): equivalence vs the
single-node reference oracle, resume, partition invariance, plan hygiene."""

import shutil

import pyarrow.parquet as pq
import pytest

from mxsparkg.extract import extract_pages
from mxsparkg.pipeline import run_pipeline, triples_for_eval
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
    import os

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
        with_metrics=False,
    )
    assert _triples(res1["triples"]) == _triples(pipeline_result["triples"])


def test_incremental_delta_ingest(spark, tiny_fixtures, pipeline_result):
    """J5/T2 delta resume: run on 60% of the corpus, then incrementally on
    the full corpus — only new urls are detected (append), downstream
    recomputes, final triples equal the full-run triples."""
    import os

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
        f"{root}/ckpt", with_metrics=False,
    )
    import json

    with open(f"{root}/ckpt/detect._manifest.json") as f:
        rows_before = json.load(f)["rows"]

    res2 = run_pipeline(
        spark, f"{tiny_fixtures}/pages.parquet",
        f"{tiny_fixtures}/entity_dict.parquet",
        f"{tiny_fixtures}/gold_canon.parquet",
        f"{root}/ckpt", with_metrics=False, incremental=True,
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
        f"{root}/ckpt", with_metrics=False, incremental=True,
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
        with_metrics=False,
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
        with_metrics=False,
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
    import os

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
        with_metrics=False,
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


def test_overlap_scheduling_equivalence(spark, tiny_fixtures):
    """Concurrent stage scheduling (canon_map ∥ detect, nodes ∥
    triples→edges) must produce byte-identical results to the sequential
    path. Self-contained (own fresh checkpoints): earlier tests mutate the
    shared module checkpoint, so pipeline_result's lazy frames can point
    at overwritten files."""

    def _run(ckpt, overlap):
        shutil.rmtree(ckpt, ignore_errors=True)
        return run_pipeline(
            spark,
            f"{tiny_fixtures}/pages.parquet",
            f"{tiny_fixtures}/entity_dict.parquet",
            f"{tiny_fixtures}/gold_canon.parquet",
            ckpt,
            overlap_stages=overlap,
        )

    def _rows(df):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        }

    seq = _run("/tmp/mxsparkg_test_ckpt_seq", False)
    ovl = _run("/tmp/mxsparkg_test_ckpt_ovl", True)
    assert _triples(seq["triples"]) == _triples(ovl["triples"])
    for tbl in ("nodes", "edges", "canon_map"):
        assert _rows(seq[tbl]) == _rows(ovl[tbl]), tbl
    shutil.rmtree("/tmp/mxsparkg_test_ckpt_seq", ignore_errors=True)
    shutil.rmtree("/tmp/mxsparkg_test_ckpt_ovl", ignore_errors=True)


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
        with_metrics=False,
        overlap_stages=False,
        reliable_checkpoint_dir=rck,
    )
    assert captured.get("reliable_checkpoint_dir") == rck


