"""G1 connected-components correctness (partition contraction, star-forest
exit, hand-rolled large/small-star loop)."""

from pyspark.sql import Row

from mxsparkg.graph import _driver_cc, connected_components, sameas_edges


def _cc(spark, edges):
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
    rows = connected_components(df).collect()
    return {r["entity_id"]: r["canon_id"] for r in rows}


def test_cc_chain(spark):
    # a-b-c-d chain → all map to a
    got = _cc(spark, [("b", "a"), ("c", "b"), ("d", "c")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_cc_two_components(spark):
    got = _cc(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert got["b"] == "a" and got["a"] == "a"
    assert got["x"] == "x" and got["y"] == "x" and got["z"] == "x"


def test_cc_star_and_cycle(spark):
    got = _cc(spark, [("hub", s) for s in ("s1", "s2", "s3")] + [("s1", "s3")])
    assert set(got.values()) == {"hub"}


def test_cc_long_chain_log_rounds(spark):
    n = 64
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == n + 1


def _edges_df(spark, edges, n_parts=4):
    """Edges dealt round-robin over n_parts partitions: chains and cycles
    then cross partitions, so the contracted edges are no star forest and
    driver_threshold=0 reaches the star loop."""
    return spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges]
    ).repartition(n_parts)


def _canon(df, **kw):
    stats: dict = {}
    got = {(r["entity_id"], r["canon_id"])
           for r in connected_components(df, stats=stats, **kw).collect()}
    return got, stats


def test_cc_distributed_equals_driver_path(spark):
    """Hybrid strategy property: the distributed alternating-star loop
    (forced via driver_threshold=0 on partition-crossing components) and
    the driver union-find produce the identical canon map."""
    edges = (
        [(f"c{i}", f"c{i+1}") for i in range(20)]          # chain
        + [("hub", f"s{i}") for i in range(10)]            # star
        + [("z1", "z2"), ("z2", "z3"), ("z3", "z1")]       # cycle
    )
    df = _edges_df(spark, edges)
    driver, d_stats = _canon(df)
    dist, stats = _canon(df, driver_threshold=0)
    assert d_stats == {"path": "driver", "rounds": 0}
    assert stats["path"] == "distributed" and stats["rounds"] >= 1
    assert driver == dist == set(_driver_cc(edges))


def test_cc_random_graph_paths_agree(spark):
    """Moderate-scale property: on a seeded random graph (3k nodes, mixed
    chains/stars/cycles + singleton-free noise), driver union-find and the
    distributed alternating-star loop produce the identical canon map."""
    import random

    rng = random.Random(42)
    nodes = [f"n{i:04d}" for i in range(3000)]
    edges = []
    for i in range(0, 2400, 3):          # chains of 3
        edges.append((nodes[i], nodes[i + 1]))
        edges.append((nodes[i + 1], nodes[i + 2]))
    for h in range(2400, 2450):          # stars
        for _ in range(8):
            edges.append((nodes[h], nodes[rng.randrange(2450, 3000)]))
    for _ in range(500):                 # random noise edges
        edges.append((nodes[rng.randrange(3000)], nodes[rng.randrange(3000)]))
    df = _edges_df(spark, [(a, b) for a, b in edges if a != b])
    driver, d_stats = _canon(df)
    dist, stats = _canon(df, driver_threshold=0)
    assert d_stats["path"] == "driver"
    assert stats["path"] == "distributed" and stats["rounds"] >= 1
    assert driver == dist and len(driver) > 2000


def test_sameas_edges_chain_within_cluster(spark):
    df = spark.createDataFrame(
        [
            Row(entity_id="a", canon_id="a"),
            Row(entity_id="b", canon_id="a"),
            Row(entity_id="c", canon_id="a"),
            Row(entity_id="x", canon_id="x"),  # singleton → no edges
        ]
    )
    got = {(r["src"], r["dst"]) for r in sameas_edges(df).collect()}
    assert got == {("a", "b"), ("b", "c")}


def test_cc_reliable_checkpoint_path(spark, tmp_path):
    """reliable_checkpoint_dir switches the star loop's per-round lineage
    truncation from localCheckpoint() to durable checkpoint(); results
    must be identical and checkpoint files must actually land in the
    configured dir."""
    import os

    edges = (
        [(f"c{i}", f"c{i+1}") for i in range(20)]
        + [("hub", f"s{i}") for i in range(10)]
    )
    df = _edges_df(spark, edges)
    local, l_stats = _canon(df, driver_threshold=0)
    ckpt_dir = str(tmp_path / "cc_ckpt")
    reliable, stats = _canon(
        df, driver_threshold=0, reliable_checkpoint_dir=ckpt_dir
    )
    assert l_stats["rounds"] >= 1 and stats == l_stats
    assert stats["path"] == "distributed"
    assert reliable == local
    assert any(os.scandir(ckpt_dir)), "no reliable checkpoint files written"


def _colocated_clusters(spark):
    """300 3-id alias clusters through sameas_edges: each chain is built
    inside one groupBy group, so no component spans partitions (the
    pipeline shape)."""
    rows = [
        Row(entity_id=f"e{c:04d}_{k}", canon_id=f"e{c:04d}_0")
        for c in range(300) for k in range(3)
    ]
    return sameas_edges(spark.createDataFrame(rows))


def test_cc_colocated_clusters_take_star_forest_exit(spark):
    """Above driver_threshold, partition-local clusters contract to a star
    forest: the leaf/root aggregate is the canon map, no star round runs."""
    df = _colocated_clusters(spark)
    edges = [(r["src"], r["dst"]) for r in df.collect()]
    got, stats = _canon(df, driver_threshold=10)
    assert stats == {"path": "distributed", "rounds": 0}
    assert got == set(_driver_cc(edges)) and len(got) == 900


def test_cc_split_chains_reach_star_loop(spark):
    """Chains dealt round-robin over partitions contract to chains of
    partition-local stars (a node is a leaf in one partition and a root in
    another): no star forest, so the loop runs and still matches."""
    edges = [(f"a{i:02d}", f"a{i+1:02d}") for i in range(30)]
    edges += [(f"b{i:02d}", f"b{i+1:02d}") for i in range(12)]
    got, stats = _canon(_edges_df(spark, edges), driver_threshold=0)
    assert stats["path"] == "distributed" and stats["rounds"] >= 1
    assert got == set(_driver_cc(edges))


def test_cc_root_shared_across_partitions_takes_exit(spark):
    """One root whose leaves sit in two partitions is still a star forest
    (each leaf has one root, no leaf is a root): the exit is exact."""
    edges = [("a", f"l{i}") for i in range(10)] + [("x", "y")]
    # parallelize slices contiguously: a's leaves land in both partitions
    df = spark.sparkContext.parallelize(edges, 2).toDF("src string, dst string")
    assert df.rdd.glom().map(lambda p: any(a == "a" for a, _ in p)).collect() \
        == [True, True]
    got, stats = _canon(df, driver_threshold=0)
    assert stats == {"path": "distributed", "rounds": 0}
    assert got == set(_driver_cc(edges))


def test_cc_leaf_of_two_roots_reaches_star_loop(spark):
    """c is a leaf of a in one partition and of b in the other; neither
    root is a leaf. Not a star forest (b must map to a): the loop runs."""
    edges = [("a", "c"), ("b", "c")]
    df = spark.sparkContext.parallelize(edges, 2).toDF("src string, dst string")
    got, stats = _canon(df, driver_threshold=0)
    assert stats["path"] == "distributed" and stats["rounds"] >= 1
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


def test_cc_empty_edges(spark):
    for threshold in (0, 200_000):
        out = connected_components(
            spark.createDataFrame([], "src string, dst string"),
            driver_threshold=threshold,
        )
        assert out.dtypes == [("entity_id", "string"), ("canon_id", "string")]
        assert out.count() == 0


def test_cc_star_forest_job_count(spark):
    """Regression bound on Spark jobs for the pipeline's CC shape
    (colocated clusters above driver_threshold), counted under the call's
    own job group: contraction, threshold probe, leaf/root aggregate,
    forest check and the result's collect take 7. The star loop took 31
    on the pipeline's alias graph."""
    # checkpointed first: sameas_edges' own jobs stay out of the count
    df = _colocated_clusters(spark).localCheckpoint()
    sc = spark.sparkContext
    group = "test_cc_star_forest_job_count"
    sc.setJobGroup(group, group)
    try:
        stats: dict = {}
        connected_components(df, driver_threshold=10, stats=stats).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert stats["rounds"] == 0
    assert n_jobs <= 7, n_jobs


def test_cc_raises_when_rounds_run_out(spark):
    """A star loop that stops before its fixpoint must fail loudly: the
    partial edges would read as a plausible but wrong canon map."""
    import pytest

    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(64)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            _edges_df(spark, edges), driver_threshold=0, max_iter=1
        ).collect()


def test_rollups_match_python_oracle(spark):
    """materialize_edges / materialize_nodes against a pure-Python oracle:
    n_support and n_mentions count every row, urls and surface_forms are
    the sorted first 1000 distinct values, the majority etype breaks a
    count tie toward the greater etype, and a mention with no canon-map
    row keeps its own entity_id."""
    from collections import Counter, defaultdict

    from mxsparkg.graph import materialize_edges, materialize_nodes

    # --- edges: one hot edge with 1500 distinct urls, 300 repeated ---
    hot = [f"u{i:04d}" for i in range(1500)]
    triples = [("s1", "p", "o1", u) for u in hot + hot[::5]]
    triples += [("s2", "p", "o2", "u9"), ("s2", "p", "o2", "u9"),
                ("s2", "p", "o2", "u1")]
    tdf = spark.createDataFrame(
        triples, "subj string, pred string, obj string, url string"
    )
    urls = defaultdict(set)
    n_support: Counter = Counter()
    for s, p, o, u in triples:
        urls[(s, p, o)].add(u)
        n_support[(s, p, o)] += 1
    want_edges = {
        k: (n_support[k], sorted(v)[:1000]) for k, v in urls.items()
    }
    got_edges = {
        (r["subj"], r["pred"], r["obj"]): (r["n_support"], list(r["urls"]))
        for r in materialize_edges(tdf).collect()
    }
    assert got_edges == want_edges
    assert got_edges[("s1", "p", "o1")][0] == 1800

    # --- nodes ---
    mentions = []
    # c1 (via e1, e2): org and pers tie at 3 mentions each → pers wins
    for i, (eid, ety) in enumerate(
        [("e1", "org")] * 3 + [("e2", "pers")] * 3
    ):
        mentions.append((eid, f"acme {i % 2}", ety, f"w{i}", i))
    # big: 1200 distinct surfaces over two etypes → surface cap
    for i in range(1200):
        mentions.append(("big", f"s{i:04d}", "org" if i % 3 else "loc",
                         f"b{i}", 0))
    # lonely: no canon-map row → keeps its own entity_id
    mentions.append(("lonely", "lone", "misc", "x", 0))
    mdf = spark.createDataFrame(
        mentions,
        "entity_id string, surface_norm string, etype string, url string, "
        "m_start int",
    )
    canon = {"e1": "c1", "e2": "c1", "big": "big"}
    cdf = spark.createDataFrame(
        list(canon.items()), "entity_id string, canon_id string"
    )
    n_ment: Counter = Counter()
    by_type: dict = defaultdict(Counter)
    surf = defaultdict(set)
    for eid, s, ety, _u, _m in mentions:
        c = canon.get(eid, eid)
        n_ment[c] += 1
        by_type[c][ety] += 1
        surf[c].add(s)
    want_nodes = {
        c: (n_ment[c], sorted(surf[c])[:1000],
            max(by_type[c].items(), key=lambda kv: (kv[1], kv[0]))[0])
        for c in n_ment
    }
    got_nodes = {
        r["canon_id"]: (r["n_mentions"], list(r["surface_forms"]), r["etype"])
        for r in materialize_nodes(mdf, cdf).collect()
    }
    assert got_nodes == want_nodes
    assert got_nodes["c1"][2] == "pers"
    assert len(got_nodes["big"][1]) == 1000
    assert got_nodes["lonely"] == (1, ["lone"], "misc")
