"""G1 connected components + G2 canonical rewrite + nodes/edges rollups
(SURVEY.md §2.10). No GraphFrames jar in this sandbox — hand-rolled
alternating large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014) as a pure DataFrame loop.

connected_components first contracts each input partition with a local
union-find (one mapInArrow pass, no shuffle): every non-root node points at
its partition-local component min. The contracted edges connect exactly the
same node sets as the input. One groupBy over their leaf and root roles
then decides the rest: if no node is a leaf with two different roots and no
leaf is a root anywhere, the edges already form a star forest whose roots
are the component minima, and that same aggregate is the canon map (no
star rounds). Alias graphs whose clusters arrive colocated — sameas_edges
builds each chain inside one groupBy group — always take this exit.
Components that span partitions fall through to the star loop over the
contracted edges, and the aggregate serves as the loop's first per-node min
table, so the check adds no shuffle to that path.

Scale notes: the loop converges in O(log n) rounds on any graph; each round
is two shuffles (groupBy min + join). `localCheckpoint` per round truncates
the otherwise-exponential lineage. High-degree roots are exactly what
large-star is designed to flatten — and both star steps are formulated
RELATIONALLY (per-node min via map-side-combinable groupBy + an equi-join
of the edge list against that min table), never as per-node adjacency
arrays: a collect_set/explode formulation buffers a celebrity hub's whole
neighborhood (10^6-10^8 edges at web scale) on one reducer, while the
min+join shape streams it — the hub key's rows flow through a sort-merge
join task without materializing, and AQE's skew-join split applies.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CONTRACT_BATCH_ROWS = 65_536
# provenance caps of the rollups: the lexicographically-first distinct
# urls per edge and surface forms per node
MAX_URLS = 1000
MAX_SURFACES = 1000


def _sym(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev)


def _min_join(probe: DataFrame, mins: DataFrame) -> DataFrame:
    """The star steps' edge⋈per-node-min equi-join on src: plain
    shuffle-hash (build side is one row per node, bounded per partition;
    skipping the probe-side sort saves two O(E log E) sorts per round ×
    O(log n) rounds). A hot hub partition is left to AQE's skew-join split
    — explicit salting measured slower (BENCH/CC.md)."""
    return probe.join(mins.hint("shuffle_hash"), "src")


def _large_star(edges: DataFrame, mins: DataFrame | None = None) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the min of
    u's closed neighborhood. `mins` (src, m) may pass in that per-node min
    when the caller already holds it.

    Relational (skew-safe) form: m(u) = least(u, min over neighbors) is a
    map-side-combinable min agg — a 10^7-degree hub reduces to partial
    minima on the map side, nothing buffers. The emit step joins the
    symmetric edge list back against the one-row-per-node m table on u, so
    the hub's rows STREAM through the join instead of materializing as one
    collect_set array (the OOM shape this repo measured on rollup windows)."""
    sym = _sym(edges)
    if mins is None:
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.col("src")).alias("m")
        )
    return (
        _min_join(sym.filter(F.col("dst") > F.col("src")), mins)
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge (max→min); connect all smaller neighbors (and the
    center) to the minimum. Same relational min+join shape as _large_star
    (min over oriented out-neighbors is ≤ center, so no least() needed on
    the emit side; the center→m self edge rides in via a union of the tiny
    per-node min table)."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = _min_join(oriented, mins).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    center_edges = mins.select("src", F.col("m").alias("dst"))
    return (
        nbr_edges.unionByName(center_edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _union_find(pairs: Iterable[tuple[str, str]]) -> dict[str, str]:
    """Path-halving union-find; maps every node to its component min."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _driver_cc(pairs: Iterable[tuple[str, str]]) -> list[tuple[str, str]]:
    """Union-find on the driver; canon = component min."""
    return sorted(_union_find(pairs).items())


def _contract_partition(batches: Iterator) -> Iterator:
    """mapInArrow body of the contraction step: union-find over one
    partition's (src, dst) edges, then (v, local_root) for every non-root
    v. Never more rows than the partition's distinct edges (a spanning
    forest), and the same node sets connected."""
    import pyarrow as pa

    roots = _union_find(
        pair
        for b in batches
        for pair in zip(b.column(0).to_pylist(), b.column(1).to_pylist())
    )
    leaves = [(v, r) for v, r in roots.items() if v != r]
    for i in range(0, len(leaves), _CONTRACT_BATCH_ROWS):
        chunk = leaves[i : i + _CONTRACT_BATCH_ROWS]
        yield pa.RecordBatch.from_arrays(
            [pa.array([v for v, _ in chunk], pa.string()),
             pa.array([r for _, r in chunk], pa.string())],
            names=["src", "dst"],
        )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    driver_threshold: int = 200_000,
    reliable_checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src, dst) strings → canon_map(entity_id, canon_id).

    canon_id = min node id of the component (deterministic). Singleton nodes
    (no edges) are the caller's concern — rewrite_canonical coalesces.

    Step 1, contraction: one mapInArrow pass runs union-find over each
    partition's edges (no distinct, no shuffle) and emits (v, local_root)
    for every non-root v — the contracted edges, checkpointed.

    Step 2, the path (the CC analogue of a broadcast-join threshold): the
    same-as graph is usually orders of magnitude smaller than the corpus,
    so at or below `driver_threshold` CONTRACTED rows one collect +
    union-find beats any round-trip of shuffles (driver_threshold is a
    DRIVER-MEMORY bound: ~100 bytes/row ⇒ the default keeps the collect
    ≲ 20 MB; size it to the driver, not the cluster). Above it, one
    groupBy over the contracted edges' leaf and root roles is both the
    convergence check and the canon map: if no node is a leaf with two
    different roots and no leaf is a root, the contracted edges are a star
    forest, every root is its component's min, and the map is returned
    with rounds=0. Otherwise the distributed alternating large-/small-star
    loop (Kiveris et al.) runs on the contracted edges, its first round
    reusing the aggregate as its min table, with per-round checkpoints to
    truncate lineage. All paths produce identical maps
    (property-tested in tests/test_graph.py). A loop that reaches max_iter
    rounds without its fixpoint raises RuntimeError rather than return a
    partial map.

    reliable_checkpoint_dir: lineage truncation uses localCheckpoint()
    (executor-local, fastest) by default — fine at local[N], but a long CC
    run on a real cluster loses rounds on executor death. Pass a
    durable-storage dir to switch to reliable checkpoint() (survives
    executor loss at the cost of one write per checkpoint).

    stats: optional dict the call fills with {'path': 'driver'|'distributed',
    'rounds': k} — observability for bench/ops, no behavior change. The
    star-forest exit reports path='distributed', rounds=0."""
    spark = edges.sparkSession
    if reliable_checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(reliable_checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    stars = _ckpt(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .mapInArrow(_contract_partition, "src string, dst string")
    )
    if stars.limit(driver_threshold + 1).count() <= driver_threshold:
        if stats is not None:
            stats.update(path="driver", rounds=0)
        out = _driver_cc((r["src"], r["dst"]) for r in stars.collect())
        return spark.createDataFrame(out, "entity_id string, canon_id string")

    # every contracted row is (leaf, root): lo/hi = the least/greatest root
    # a node is a leaf of; is_root = it is some row's root
    leaf_roles = stars.select(F.col("src").alias("v"), F.col("dst").alias("root"))
    root_roles = stars.select(
        F.col("dst").alias("v"), F.lit(None).cast("string").alias("root")
    )
    canon = _ckpt(
        leaf_roles.unionByName(root_roles).groupBy("v").agg(
            F.min("root").alias("lo"),
            F.max("root").alias("hi"),
            (F.count("*") > F.count("root")).alias("is_root"),
        )
    )
    # a node's least root (itself if it is no leaf) is its least closed
    # neighbor in the contracted edges: the canon map once they form a star
    # forest, else the first large-star's per-node min
    least = F.coalesce("lo", "v")
    # a leaf of two roots, or a leaf that is also a root, means components
    # met across partitions: not yet a star forest
    if canon.filter(
        (F.col("lo") != F.col("hi")) | (F.col("lo").isNotNull() & F.col("is_root"))
    ).isEmpty():
        if stats is not None:
            stats.update(path="distributed", rounds=0)
        return canon.select(
            F.col("v").alias("entity_id"), least.alias("canon_id")
        )

    # no distinct(): stars is no star forest, so the first round always
    # changes it, and its cross-partition duplicate rows cannot fake the
    # signature fixpoint
    cur = stars

    def _sig(df):
        # order-insensitive xor-hash (xor, not sum: ANSI would overflow)
        r = df.select(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    mins = canon.select(F.col("v").alias("src"), least.alias("m"))
    sig_cur = _sig(cur)
    rounds = 0
    for _ in range(max_iter):
        nxt = _ckpt(_small_star(_large_star(cur, mins)))
        mins = None
        sig_nxt = _sig(nxt)
        cur = nxt
        rounds += 1
        if sig_cur == sig_nxt:
            break
        sig_cur = sig_nxt
    else:
        # the unconverged edges would still read as a plausible canon map
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} star "
            "rounds (the loop needs O(log n) — raise max_iter only if the "
            "graph's diameter genuinely calls for it)"
        )
    if stats is not None:
        stats.update(path="distributed", rounds=rounds)
    # after convergence every edge is (node, root) with root = component min
    members = cur.select(F.col("src").alias("entity_id"), F.col("dst").alias("canon_id"))
    roots = cur.select(F.col("dst").alias("entity_id")).distinct().withColumn(
        "canon_id", F.col("entity_id")
    )
    return members.unionByName(roots).distinct()


def rewrite_canonical(triples: DataFrame, canon_map: DataFrame) -> DataFrame:
    """G2: subj/obj → canonical ids (two joins; broadcast if map is small)."""
    s = canon_map.select(
        F.col("entity_id").alias("subj"), F.col("canon_id").alias("subj_canon")
    )
    o = canon_map.select(
        F.col("entity_id").alias("obj"), F.col("canon_id").alias("obj_canon")
    )
    return (
        triples.join(F.broadcast(s), on="subj", how="left")
        .join(F.broadcast(o), on="obj", how="left")
        .select(
            F.coalesce("subj_canon", F.col("subj")).alias("subj"),
            "pred",
            F.coalesce("obj_canon", F.col("obj")).alias("obj"),
            "url",
            "sent_id",
            "conf",
        )
    )


def materialize_edges(canon_triples: DataFrame) -> DataFrame:
    """A3: edge rollup with support counts + provenance urls.

    One groupBy: count and collect_set both combine map-side, so a
    celebrity edge's 10^6+ supporting rows reach its reducer as one
    partial count and url set per map task; hot reducer partitions are
    left to AQE. Provenance is capped at the lexicographically-first
    MAX_URLS distinct urls (deterministic), with the true support in
    n_support. A url-salted first level measured no better (BENCH/TAIL.md)."""
    return canon_triples.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("n_support"),
        F.slice(F.array_sort(F.collect_set("url")), 1, MAX_URLS).alias("urls"),
    )


def materialize_nodes(
    linked_mentions: DataFrame, canon_map: DataFrame
) -> DataFrame:
    """A4: node rollup — mention count, surface forms, majority type.

    Two groupBys, (canon_id, etype) then canon_id: the majority type needs
    the per-type counts, so it is exact (not a mode over a sample) and
    never builds a per-entity row set. A mention with no canon-map row
    keeps its own entity_id. Surface forms are capped at the
    lexicographically-first MAX_SURFACES; a count tie between etypes goes
    to the greater etype."""
    cm = canon_map.select("entity_id", "canon_id")
    withc = linked_mentions.join(F.broadcast(cm), on="entity_id", how="left").select(
        F.coalesce("canon_id", F.col("entity_id")).alias("canon_id"),
        "surface_norm",
        "etype",
    )
    by_type = withc.groupBy("canon_id", "etype").agg(
        F.count("*").alias("_n"),
        F.slice(
            F.array_sort(F.collect_set("surface_norm")), 1, MAX_SURFACES
        ).alias("_surf"),
    )
    return by_type.groupBy("canon_id").agg(
        F.sum("_n").alias("n_mentions"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_surf")))),
            1,
            MAX_SURFACES,
        ).alias("surface_forms"),
        F.max_by("etype", F.struct(F.col("_n"), F.col("etype"))).alias("etype"),
    )


def sameas_edges(alias_clusters: DataFrame) -> DataFrame:
    """Alias clusters (entity_id, canon_id — e.g. redirect/alias data shipped
    with the dictionary) → same-as CHAIN edges per cluster. Chains (not
    cliques) on purpose: connected components must do real multi-hop work."""
    g = alias_clusters.groupBy("canon_id").agg(
        F.array_sort(F.collect_set("entity_id")).alias("ids")
    )
    return g.select(
        F.explode(
            F.zip_with(
                F.slice("ids", 1, F.greatest(F.size("ids") - 1, F.lit(0))),
                F.slice("ids", 2, F.greatest(F.size("ids") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
