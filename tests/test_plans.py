"""Physical-plan hygiene (SURVEY.md §4): the optimizations we rely on at
100 TB must actually appear in the executed plans — broadcast joins on
dimension sides, pushed filters, whole-stage codegen on relational ops."""

from __future__ import annotations

import pyspark.sql.functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_link_uses_broadcast_hash_join(spark, tiny_fixtures):
    from mxsparkg.detect import broadcast_model, detect_pages, split_detections
    from mxsparkg.link import link_mentions

    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet").limit(50)
    det = detect_pages(pages, broadcast_model(spark))
    mentions, _ = split_detections(det)
    edict = spark.read.parquet(f"{tiny_fixtures}/entity_dict.parquet")
    plan = _plan(link_mentions(mentions, edict))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_canon_rewrite_broadcasts_map(spark, tiny_fixtures):
    from mxsparkg.graph import rewrite_canonical

    triples = spark.createDataFrame(
        [("a", "p", "b", "u", 0, 1.0)],
        "subj string, pred string, obj string, url string, sent_id int, conf double",
    )
    cm = spark.createDataFrame(
        [("a", "A")], "entity_id string, canon_id string"
    )
    assert "BroadcastHashJoin" in _plan(rewrite_canonical(triples, cm))


def test_detect_input_prunes_to_url_html(spark, tiny_fixtures):
    """The fused detect scan must read ONLY url+html — text/lang/warc_ts
    never leave the parquet reader."""
    from mxsparkg.detect import broadcast_model, detect_pages

    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet")
    plan = _plan(detect_pages(pages, broadcast_model(spark)))
    import re

    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    assert "url" in m.group(1) and "html" in m.group(1)
    assert "text" not in m.group(1) and "lang" not in m.group(1)


def test_agg_map_side_combine_no_python(spark, tiny_fixtures):
    """Relational rollups use partial (map-side) + final hash aggregation,
    scan only needed columns, and have no Python in the path. (AQE shows
    the pre-execution plan, so WSCG spans aren't visible here — the
    partial_count IS the load-bearing property.)"""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    agg = docs.groupBy("lang").agg(F.count("*").alias("n"))
    plan = _plan(agg)
    assert "partial_count" in plan and plan.count("HashAggregate") >= 2
    assert "Python" not in plan
    assert "ReadSchema: struct<lang:string>" in plan


def test_filter_pushdown_reaches_scan(spark, tiny_fixtures):
    pages = spark.read.parquet(f"{tiny_fixtures}/pages.parquet").filter(
        F.col("lang") == "fr"
    )
    plan = _plan(pages)
    assert "PushedFilters" in plan
    assert "lang" in plan


def test_dedup_caps_have_no_window_buffering(spark):
    """The hot-key caps (shingle df / LSH bucket size) must be computed as
    map-side-combinable groupBy counts + broadcast anti-joins of the tiny
    over-cap key set — NOT count-over-partition windows, which buffer the
    whole degenerate group on one reducer (the exact skew the cap defuses)."""
    from mxsparkg.datapipe import (
        _docs,
        dedup_ngram_jaccard,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    sf = "/root/testdata/sf0.001"
    p1 = _plan(dedup_ngram_jaccard(spark, sf))
    assert "Window" not in p1
    assert "LeftAnti" in p1 and "BroadcastHashJoin" in p1
    p2 = _plan(minhash_candidate_pairs(minhash_signatures(_docs(spark, sf))))
    assert "Window" not in p2
    assert "LeftAnti" in p2 and "BroadcastHashJoin" in p2


def test_decontam_broadcasts_benchmark_grams(spark):
    """txt_decontam's scale contract: the (tiny) benchmark gram set is the
    broadcast side, so the 100-TB corpus side joins without a shuffle on
    the gram key — no SortMergeJoin anywhere in the overlap join."""
    from mxsparkg.datapipe import txt_decontam

    plan = _plan(txt_decontam(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_topk_is_take_ordered(spark):
    """txt_vocab's top-k must compile to TakeOrderedAndProject (per-
    partition top-k candidates only cross the shuffle), not a global
    Sort + Limit over the whole vocabulary."""
    from mxsparkg.datapipe import txt_vocab

    plan = _plan(txt_vocab(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan


def test_sessionize_single_exchange_no_python(spark):
    """evt_sessionize's lag-flag window and running-sum window must share
    ONE user_id hash Exchange (both windows + the final agg are planned on
    the same partitioning), and the whole op stays JVM-side."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_sessionize"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan
    assert "Python" not in plan, plan


def test_asof_single_exchange_no_python(spark):
    """evt_asof's union-then-window formulation exists FOR this plan: both
    ignorenulls windows share ONE user_id hash Exchange (the whole
    point-in-time lookup is a single shuffle), and the op stays JVM-side —
    the range-predicate join formulation would plan a join with no
    equi-condition instead."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_asof"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan
    assert "Join" not in plan, plan


def test_chunk_zero_exchange_no_python(spark):
    """txt_chunk is a pure projection + generate: no shuffle at all and
    no Python — the chunk manifest costs exactly one scan at any scale."""
    from mxsparkg.datapipe import txt_chunk

    plan = _plan(txt_chunk(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_pack_sequences_single_exchange_no_python(spark):
    """txt_pack_sequences: the shard cumsum window is the op's ONLY
    shuffle, and everything stays JVM-side."""
    from mxsparkg.datapipe import txt_pack_sequences

    plan = _plan(txt_pack_sequences(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan


def test_sequence_match_single_exchange_no_python(spark):
    """evt_sequence_match: one user_id hash Exchange for the ordered
    collect (map-side partial aggregation applies), zero Python — the
    regex and the sequence sort run inside codegen."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_sequence_match"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan


def test_bloom_join_broadcasts_never_sortmerges(spark):
    """join_bloom: the packed bloom words enter the probe as a literal
    (the BloomFilterAggregate lifecycle) and the verify join broadcasts —
    the probe side must never plan a SortMergeJoin (the whole point is
    that survivors, not the full probe, reach any real join), and the
    filter math stays JVM-side."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["join_bloom"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan, plan
    assert "Broadcast" in plan, plan


def test_histogram_single_exchange_map_side_combined(spark):
    """agg_histogram: bin assignment is a projection, so the whole
    histogram is one partial+final hash aggregate around a single
    Exchange — the cheapest possible distribution profile at 100 TB."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["agg_histogram"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan, plan
    assert "Python" not in plan, plan


def test_classify_single_exchange_no_python(spark):
    """txt_classify: hashing-trick features mean NO vocabulary join — the
    classifier is one explode + one map-side-combinable sum around a
    single Exchange, zero Python."""
    from mxsparkg.datapipe import txt_classify

    plan = _plan(txt_classify(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_boilerplate_broadcasts_boiler_set_no_window(spark):
    """txt_boilerplate: the df-threshold set comes back as a broadcast
    join (map-side-combinable count, never a window buffering a posting
    list), and reassembly stays JVM-side."""
    from mxsparkg.datapipe import txt_boilerplate

    plan = _plan(txt_boilerplate(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan


def test_turtle_single_exchange_no_python(spark):
    """kg_turtle: one subj hash Exchange for the sorted predicate-list
    collect; serialization is all codegen string ops."""
    from mxsparkg.kgexport import kg_turtle

    plan = _plan(kg_turtle(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan


def test_retention_map_side_combined_no_python(spark):
    """evt_retention: the first-purchase min and the cell distinct-count
    both partial-aggregate map-side; the purchase filter reaches the
    scan; zero Python."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_retention"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "partial_min" in plan, plan
    import re

    m = re.search(r"PushedFilters: \[[^\]]*\]", plan)
    assert m and "EqualTo(event_type,purchase)" in m.group(0), plan
    assert "Python" not in plan, plan


def test_bpe_train_and_encode_no_interpreted_join_no_python(spark):
    """The BPE lifecycle must stay in whole-stage codegen: merge winners
    and the trained table re-enter as replace() LITERALS, so the plans
    contain NO BroadcastNestedLoopJoin (a constant-key 1-row ride-along
    folds its condition away and Spark falls back to the INTERPRETED
    BNLJ over every corpus row) and no Python."""
    from mxsparkg.datapipe import txt_bpe_encode, txt_bpe_merges

    for fn in (txt_bpe_merges, txt_bpe_encode):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "EvalPython" not in plan, fn.__name__


def test_modularity_no_interpreted_join_scalar_literals(spark):
    """graph_modularity's m and global total ride as driver literals —
    no BroadcastNestedLoopJoin anywhere (the community-table probe side
    is node-scale in the all-singletons worst case), no Python, and the
    top-k is TakeOrderedAndProject, not a full sort."""
    from mxsparkg.graphquery import graph_modularity

    plan = _plan(graph_modularity(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_linkpred_hub_cap_is_broadcast_anti_no_python(spark):
    """graph_linkpred's hub-wedge cap returns as a broadcast LEFT ANTI
    join (the map-side-count + anti-join mechanic, same as the LSH
    bucket cap), the plan has no interpreted join and no Python, and
    the top-k is TakeOrderedAndProject."""
    from mxsparkg.graphquery import graph_linkpred

    plan = _plan(graph_linkpred(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_corpus_scale_scalar_joins_are_literal_not_bnlj(spark):
    """Every key whose 1-row scalar used to ride a constant-key join over
    a corpus-scale probe side now injects the scalar as a driver literal:
    plans must be BroadcastNestedLoopJoin-free. (Keys where BNLJ is the
    SEMANTICS — ann brute-force all-pairs — or where the probe side is
    1-row/model-scale — funnel step counts, transe CTE composition — are
    classified in BENCH/PLANS.md and deliberately unchanged.)"""
    from mxsparkg.datapipe import txt_lm_score, txt_tfidf
    from mxsparkg.graphquery import kg_edge_pmi
    from mxsparkg.kgexport import kg_type_check

    for fn in (txt_lm_score, txt_tfidf, kg_edge_pmi, kg_type_check):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_type_check_anti_join_is_hash_after_derived_types(spark):
    """kg_type_check's domain/range anti-join must be a
    BroadcastHashJoin LeftAnti: literal per-branch type columns would
    constant-fold the equi-condition away and interpret the whole triple
    stream — types are derived from the IRI namespace instead."""
    from mxsparkg.kgexport import kg_type_check

    plan = _plan(kg_type_check(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_newest_batch_no_interpreted_join_no_python(spark):
    """Batch-7 hygiene: traced paths, the composite filter gate,
    grouping sets, and RFM all stay free of interpreted joins,
    Cartesian products, and Python in the relational path."""
    from mxsparkg.contract import contract_queries
    from mxsparkg.datapipe import txt_filter_gate
    from mxsparkg.graphquery import graph_path

    q = contract_queries()
    for fn in (graph_path, txt_filter_gate, q["agg_grouping_sets"],
               q["evt_rfm"]):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        name = getattr(fn, "__name__", str(fn))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan, name


def test_phash_pair_join_is_hash_never_nested_loop(spark):
    """mm_phash_pairs: the banded Hamming candidate join must plan as a
    hash equi-join on (band_id, band_val) with the bucket cap as a
    broadcast anti-join — never a nested-loop/cartesian (the O(n²) shape
    the banding exists to avoid). The Hamming bit math stays JVM-side;
    Python appears only in the two mapInPandas passes (encode + dHash),
    never in the join stages."""
    from mxsparkg.datapipe import mm_phash_pairs

    plan = _plan(mm_phash_pairs(spark, "/root/testdata/sf0.001"))
    assert "NestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the anti-join cap
    # join keys are the band columns, not a trivial/true condition
    assert "band_val" in plan and "band_id" in plan


def test_attribution_single_exchange_no_python(spark):
    """evt_attribution: both window frames (24h RANGE max + unbounded
    RANGE min) must share ONE user_id hash Exchange and one sort — the
    sessionize plan — with zero Python anywhere."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_attribution"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan


def test_anomaly_broadcast_stats_no_window(spark):
    """evt_anomaly: the 5-row per-type stats table must ride back as a
    BROADCAST hash join (never a shuffle join, never a window), and the
    whole-bit sigma test stays JVM-side."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_anomaly"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan


def test_crawl_revisit_partitioned_lag_no_python(spark):
    """crawl_revisit: the snapshot lag must be partitioned by doc_id (no
    global all-to-one window before the aggregate; the only unpartitioned
    window is the final dense_rank over the 500-row page-level
    aggregate), and fingerprints stay JVM-side."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["crawl_revisit"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Python" not in plan, plan
    # doc_id-partitioned window for the lag stage
    assert "hashpartitioning(doc_id" in plan, plan


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """The 100-TB table layout story: a day-partitioned parquet table
    filtered on its partition column must prune at PLAN time —
    PartitionFilters populated and only the matching directory read —
    plus dynamic row-group pruning for the data filter (PushedFilters).
    This is the physical contract catalog.write_partitioned relies on."""
    import pyspark.sql.functions as F

    p = str(tmp_path / "part_tbl")
    spark.range(1000).select(
        "id", (F.col("id") % 7).alias("day"), (F.col("id") * 3).alias("v")
    ).write.partitionBy("day").mode("overwrite").parquet(p)

    df = spark.read.parquet(p).filter("day = 3 AND v > 100").select("v")
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    assert "(day" in plan.split("PartitionFilters:")[1].split("]")[0], plan
    assert "PushedFilters: [IsNotNull(v), GreaterThan(v,100)]" in plan, plan
    # and the result is right (pruning must not change semantics)
    assert df.count() == sum(
        1 for i in range(1000) if i % 7 == 3 and i * 3 > 100
    )


def test_round5c_batch_no_interpreted_join_no_python(spark):
    """Closing-batch hygiene: Louvain local move, star BGP, Markov
    stationary, multiset set-ops, and RDF-star export stay free of
    interpreted joins, Cartesian products, and Python in the relational
    path."""
    from mxsparkg.contract import contract_queries
    from mxsparkg.graphquery import graph_coarsen, graph_louvain
    from mxsparkg.kgexport import kg_bgp_star, kg_property_path, kg_rdfstar

    q = contract_queries()
    for fn in (graph_louvain, graph_coarsen, kg_bgp_star, kg_rdfstar,
               kg_property_path,
               q["evt_markov_stationary"], q["setop_all"]):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        name = getattr(fn, "__name__", str(fn))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan, name


def test_rdfs_closure_instance_join_is_broadcast(spark):
    """The 100-TB contract of X17: the ontology closure rides a
    BROADCAST into the instance-table join — the web-scale side must
    never shuffle for the entailment."""
    from mxsparkg.kgexport import kg_rdfs_closure

    plan = _plan(kg_rdfs_closure(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_interval_join_is_equi_not_bnlj(spark):
    """The bucketized interval join must plan a HASH equi-join on the
    bucket id — never the interpreted BroadcastNestedLoopJoin a raw
    overlap theta-join degenerates to."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["join_interval"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_nullsafe_join_is_hash_join(spark):
    """`<=>` must participate in hashing (the null bit is part of the
    key) — a null-safe join that falls back to nested-loop would be
    unusable at scale."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["join_nullsafe"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_profile_table_single_scan(spark):
    """The column profile must read the orders table ONCE — sibling
    aggregates + struct-explode unpivot, not one job per column (the
    multi-distinct Expand is expected; a second scan is the bug)."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["profile_table"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan


def test_heavy_hitters_recount_is_broadcast_semi(spark):
    """txt_heavy_hitters pass 2: the exact recount must semi-join the
    token stream against a BROADCAST candidate list (candidates are
    capacity x partitions — model-sized by the MG bound), and the final
    threshold filter rides a broadcast 1-row total — no full-vocabulary
    hash Exchange anywhere after the candidate stage."""
    from mxsparkg.datapipe import txt_heavy_hitters

    plan = _plan(txt_heavy_hitters(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan  # total is a literal


def test_scd2_windows_share_one_exchange(spark):
    """evt_scd2's lag pass and lead pass are both keyed on user_id: the
    plan must carry exactly ONE user_id hash Exchange (the SCD2 build is
    a single shuffle), fully JVM-side."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_scd2"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan
    assert "Join" not in plan, plan


def test_concurrency_single_window_pass_no_join(spark):
    """evt_concurrency: the sweep is boundary-union + ONE windowed cumsum
    per event_type partitioning + a broadcast peak lookup — the naive
    interval SELF-JOIN must be absent; the only joins are broadcast."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_concurrency"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_item_cooccur_marginals_are_broadcast(spark):
    """evt_item_cooccur: the per-item user counts (model-sized: one row
    per item) must attach by BroadcastHashJoin; the user self-join is the
    only data-sized join."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_item_cooccur"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "Python" not in plan, plan


def test_snm_window_join_is_equi_not_bnlj(spark):
    """kg_er_sortednbr: the rank+k window pairing must plan as an
    EQUI-join on the exploded rank (SortMergeJoin/ShuffledHashJoin ok) —
    a naive `b.rk BETWEEN a.rk+1 AND a.rk+w` range predicate would plan
    BroadcastNestedLoopJoin and die at scale."""
    from mxsparkg.graphquery import kg_er_sortednbr

    plan = _plan(kg_er_sortednbr(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_zorder_is_pure_codegen_projection(spark):
    """fn_zorder: the 32-term interleave must stay inside ONE
    whole-stage-codegen projection over the scan — no shuffle, no
    Python, no join."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["fn_zorder"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "*(1) Project" in plan, plan  # one codegen stage, star notation


def test_wau_single_event_sized_shuffle(spark):
    """evt_wau: the distinct (day,user) pass is the ONLY event-sized
    shuffle; the x7 explode runs on the day-level table and the clip is
    a broadcast semi-join — no sort-merge join, no Python."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_wau"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "Python" not in plan, plan


def test_reciprocity_no_bnlj_supplier_broadcast(spark):
    """graph_reciprocity: the nation-dim supplier side broadcasts; the
    1-row n/nr recombination must not plan a nested-loop join over
    data-sized inputs (both sides are single-row aggregates)."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["graph_reciprocity"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_sketch_hll_single_exchange_no_python(spark):
    """sketch_hll: register build is ONE map-side-combinable aggregation
    — partial max per input partition, one 256-key Exchange, final max.
    All hashing (md5/conv/bin) stays in codegen'd JVM expressions."""
    from mxsparkg.datapipe import sketch_hll

    plan = _plan(sketch_hll(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "partial_max" in plan, plan
    assert "Python" not in plan, plan


def test_sketch_cms_two_phase_no_python(spark):
    """sketch_cms: exactly two Exchanges — the event-sized per-key count
    (partial_count map-side) and the vocabulary-sized cell re-sum after
    the stack(). No Python, no join anywhere."""
    from mxsparkg.datapipe import sketch_cms

    plan = _plan(sketch_cms(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 2, plan
    assert "partial_count" in plan, plan
    assert "Python" not in plan, plan
    assert "Join" not in plan, plan


def test_gap_fill_reuses_user_partitioning(spark):
    """evt_gap_fill: the daily-bucket groupBy is the only event-sized
    shuffle; span/calendar/window all key on user_id. No BNLJ (the
    per-user sequence() replaces any calendar cross join), no Python."""
    from mxsparkg.contract import contract_queries

    df = contract_queries()["evt_gap_fill"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_plan_audit_whitelist_names_registered_keys():
    """The registry-wide audit's whitelist (tools/plan_audit.py) must
    reference only keys that still exist — a renamed/removed key leaves
    a stale justification that silently stops guarding anything."""
    import __spark_entry__ as entrymod
    from tools.plan_audit import ALLOWED

    qs = set(entrymod.queries())
    stale = sorted(set(ALLOWED) - qs)
    assert not stale, f"whitelist entries for unregistered keys: {stale}"
