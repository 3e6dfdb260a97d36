"""U4 context-aware linking: ambiguous surfaces resolved by context
overlap; NIL handling; exact parity with the reference oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mxsparkg.link import link_mentions
from reference_impl.tagger import link_surface_ctx

DICT_ROWS = [
    # 'mistral' is ambiguous: an org and a person share the surface
    Row(surface_norm="mistral", entity_id="org:mistral", prior=0.6,
        context_words=["société", "institute", "company"]),
    Row(surface_norm="mistral", entity_id="pers:mistral", prior=0.6,
        context_words=["monsieur", "dit", "said"]),
    Row(surface_norm="paris", entity_id="loc:paris", prior=0.8,
        context_words=[]),
]


def _mention(url, surface_norm, context):
    return Row(url=url, sent_id=0, m_start=0, m_end=7,
               surface=surface_norm.title(), surface_norm=surface_norm,
               etype="org", rule_id=1, score=1.0, context=context)


@pytest.fixture(scope="module")
def linked(spark):
    mentions = spark.createDataFrame([
        _mention("u1", "mistral", "la société mistral est basée à paris"),
        _mention("u2", "mistral", "monsieur mistral dit bonjour"),
        _mention("u3", "mistral", "rien d utile ici"),
        _mention("u4", "paris", "any context at all"),
        _mention("u5", "unknownco", "no dictionary entry"),
    ])
    edict = spark.createDataFrame(DICT_ROWS)
    return {r["url"]: r for r in link_mentions(mentions, edict).collect()}


def test_context_disambiguates_org(linked):
    assert linked["u1"]["entity_id"] == "org:mistral"
    assert linked["u1"]["link_score"] > 0.6


def test_context_disambiguates_pers(linked):
    assert linked["u2"]["entity_id"] == "pers:mistral"


def test_no_context_falls_back_to_tiebreak(linked):
    # equal priors, zero overlap → max entity_id wins (matches reference)
    assert linked["u3"]["entity_id"] == "pers:mistral"
    assert linked["u3"]["link_score"] == pytest.approx(0.6)


def test_empty_context_words_reduce_to_prior(linked):
    assert linked["u4"]["entity_id"] == "loc:paris"
    assert linked["u4"]["link_score"] == pytest.approx(0.8)


def test_nil_for_unknown_surface(linked):
    assert linked["u5"]["nil"] is True
    assert linked["u5"]["entity_id"].startswith("nil:")
    assert linked["u5"]["link_score"] == 0.0


def test_ambiguous_dict_through_full_pipeline(spark, tmp_path):
    """E2E: with an ambiguous dictionary carrying context words, the
    pipeline takes the context-scoring path (detect emits contexts, link
    windows over candidates) and still resolves deterministically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mxsparkg.pipeline import run_pipeline
    from mxsparkg.textcore import html_escape

    lines = [
        "Jean Dupont dirige la société Mistral .",
        "monsieur Dupont visite Paris .",
    ]
    html = "".join(f"<p>{html_escape(ln)}</p>" for ln in lines).encode()
    import datetime as dt

    pq.write_table(pa.table({
        "url": pa.array(["https://a.example/1"]),
        "warc_ts": pa.array([dt.datetime(2026, 1, 1)],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([html], pa.binary()),
        "text": pa.array(["\n".join(lines)]),
        "lang": pa.array(["fr"]),
    }), str(tmp_path / "pages.parquet"))
    # the detector emits 'société mistral' (ORGWORD + Xxx rule) — make that
    # surface ambiguous between two org entities with equal priors
    pq.write_table(pa.table({
        "surface_norm": pa.array(
            ["société mistral", "société mistral", "paris"]),
        "entity_id": pa.array(
            ["org:mistral_wind", "org:mistral_ai", "loc:paris"]),
        "prior": pa.array([0.6, 0.6, 0.8]),
        "context_words": pa.array(
            [["vent", "météo"], ["dirige", "modèles"], []],
            pa.list_(pa.string())),
    }), str(tmp_path / "dict.parquet"))
    pq.write_table(pa.table({
        "entity_id": pa.array(["org:mistral_ai"]),
        "canon_id": pa.array(["org:mistral_ai"]),
    }), str(tmp_path / "aliases.parquet"))

    res = run_pipeline(
        spark,
        str(tmp_path / "pages.parquet"),
        str(tmp_path / "dict.parquet"),
        str(tmp_path / "aliases.parquet"),
        str(tmp_path / "ckpt"),
    )
    linked = {
        r["surface_norm"]: (r["entity_id"], r["link_score"])
        for r in res["linked_mentions"].collect()
    }
    # sentence context 'jean dupont dirige la' overlaps {dirige} →
    # org:mistral_ai wins the otherwise-tied priors
    eid, score = linked["société mistral"]
    assert eid == "org:mistral_ai"
    assert score == pytest.approx(0.6 + 0.5)  # prior + 1/2 context overlap
    # contexts were emitted (adaptive flag on)
    ctx = [r["context"] for r in res["mentions"].collect()]
    assert any(c for c in ctx)


def test_parity_with_reference_oracle(linked):
    ref_dict = {
        "mistral": [("org:mistral", 0.6, ["société", "institute", "company"]),
                    ("pers:mistral", 0.6, ["monsieur", "dit", "said"])],
        "paris": [("loc:paris", 0.8, [])],
    }
    cases = {
        "u1": "la société mistral est basée à paris",
        "u2": "monsieur mistral dit bonjour",
        "u3": "rien d utile ici",
    }
    for url, ctx in cases.items():
        eid, score = link_surface_ctx("mistral", ctx.split(" "), ref_dict)
        assert linked[url]["entity_id"] == eid
        assert linked[url]["link_score"] == pytest.approx(score)


def test_context_linking_corpus_scale(spark):
    """Corpus-scale context disambiguation: 200 seeded pages where every
    detected surname is ambiguous between two equal-prior entities; the
    sentence context must pick the gold entity on EVERY page."""
    from fixtures.generate import ensure_ambig
    from mxsparkg.pipeline import run_pipeline
    import shutil

    fdir = ensure_ambig()
    root = "/tmp/mxsparkg_test_ambig_corpus"
    shutil.rmtree(root, ignore_errors=True)
    res = run_pipeline(
        spark,
        f"{fdir}/pages.parquet",
        f"{fdir}/entity_dict.parquet",
        f"{fdir}/gold_canon.parquet",
        f"{root}/ckpt",
    )
    gold = {
        (r["url"], r["surface_norm"]): r["entity_id"]
        for r in spark.read.parquet(f"{fdir}/gold_links.parquet").collect()
    }
    linked = res["linked_mentions"].filter("not nil").collect()
    checked = 0
    for r in linked:
        key = (r["url"], r["surface_norm"])
        if key in gold:
            assert r["entity_id"] == gold[key], (key, r["entity_id"], gold[key])
            checked += 1
    assert checked == 200  # every page's ambiguous mention resolved correctly


def test_dict_stats_cache_keyed_by_content(spark):
    """Regression (round-1 advice): the stats cache must not serve stale
    results for a *different* dictionary that happens to reuse a Python
    object id. The key is now the analyzed plan, so a rebuilt dictionary
    with different content gets fresh stats, and an identical expression
    hits the cache."""
    from pyspark.sql import Row

    from mxsparkg.link import _DICT_STATS_CACHE, dict_stats

    schema = ("surface_norm string, entity_id string, prior double, "
              "context_words array<string>")
    single = [Row(surface_norm="a", entity_id="e1", prior=0.5,
                  context_words=[])]
    double = single + [Row(surface_norm="a", entity_id="e2", prior=0.4,
                           context_words=["ctx", "words"])]
    d1 = spark.createDataFrame(single, schema)
    s1 = dict_stats(d1)
    assert s1["max_cands"] == 1 and s1["max_cw"] == 0
    del d1  # a new DataFrame may now reuse the freed object id
    d2 = spark.createDataFrame(double, schema)
    s2 = dict_stats(d2)
    assert s2["max_cands"] == 2 and s2["max_cw"] == 2
    # same expression again → cache hit (no new entry). NB: rebuilt *local*
    # dictionaries get fresh LogicalRDD hashes (never collide, never hit);
    # parquet-backed dictionaries — the production path — hit by file path.
    n = len(_DICT_STATS_CACHE)
    dict_stats(d2)
    assert len(_DICT_STATS_CACHE) == n
