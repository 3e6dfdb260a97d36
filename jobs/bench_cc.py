"""Connected-components scale exercise (SURVEY.md §2.10 G1; roadmap item
"bigger CC scale"): run distributed CC on a million-edge alias graph with
adversarial structure, verify EXACT equality against driver union-find,
and record wall/rounds. The input is dealt round-robin over partitions, so
components cross partitions and the alternating-star loop runs after the
per-partition contraction.

Graph mix (seeded, deterministic):
  - `--pairs` 2-node components (the overwhelmingly common alias case)
  - `--chains` chain components of length 3-8 (multi-hop merges)
  - one LONG chain of `--long-chain` nodes (the O(log n)-round worst case
    for star contraction)
  - one STAR with `--star` leaves (the high-degree hub large-star exists
    to flatten — a celebrity entity's alias cluster)
  - `--random-edges` uniform random edges over a `--random-nodes` pool
    (one giant sparse component + dust)

Usage: python jobs/bench_cc.py [--cores 16] [--out BENCH/CC.md]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_edges(args) -> list[tuple[str, str]]:
    rng = random.Random(42)
    edges: list[tuple[str, str]] = []
    nid = 0

    def fresh() -> str:
        nonlocal nid
        nid += 1
        return f"n{nid:08d}"

    for _ in range(args.pairs):
        edges.append((fresh(), fresh()))
    for _ in range(args.chains):
        chain = [fresh() for _ in range(rng.randint(3, 8))]
        edges.extend(zip(chain, chain[1:]))
    long_chain = [fresh() for _ in range(args.long_chain)]
    edges.extend(zip(long_chain, long_chain[1:]))
    hub = fresh()
    edges.extend((hub, fresh()) for _ in range(args.star))
    pool = [fresh() for _ in range(args.random_nodes)]
    edges.extend(
        (rng.choice(pool), rng.choice(pool))
        for _ in range(args.random_edges)
    )
    rng.shuffle(edges)
    return edges


def skew_experiment(args) -> None:
    """Hub-skew measurement: on a hub-DOMINATED graph (one star holding
    ~85% of all edges — the worst case for the star steps' edge⋈min join,
    whose probe side hashes every hub edge to ONE partition), run the same
    CC two ways:

      baseline   stock AQE (the hub partition is tens of MB — BELOW AQE's
                 256MB skew-split threshold, so AQE does NOT split it: the
                 hot task bounds every round's wall)
      aqe-tuned  skewedPartitionThresholdInBytes/advisoryPartitionSizeInBytes
                 lowered to 8MB so AQE's skew-split actually fires on the
                 hub partition

    Both must produce the EXACT union-find map. Results append to
    BENCH/CC.md."""
    from mxsparkg.graph import _driver_cc, connected_components
    from mxsparkg.session import get_spark

    edges = build_edges(args)
    n_edges = len(edges)
    spark = get_spark(
        f"local[{args.cores}]",
        shuffle_partitions=2 * args.cores,
        app_name="bench-cc-skew",
    )
    df = spark.createDataFrame(edges, "src string, dst string").repartition(
        2 * args.cores
    )
    df.persist().count()
    # CC drops self-edges (a node whose ONLY edge is a self-loop is a
    # singleton and absent from the edge-derived map); feed the oracle
    # the same filtered view
    expected = set(_driver_cc([(a, b) for a, b in edges if a != b]))

    aqe_tuning = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    defaults = {k: spark.conf.get(k) for k in aqe_tuning}

    results = {}
    for name, confs in (("baseline", {}), ("aqe_tuned", aqe_tuning)):
        for k, v in confs.items():
            spark.conf.set(k, v)
        walls = []
        for _rep in range(args.skew_reps):
            stats: dict = {}
            t0 = time.time()
            cc = connected_components(df, driver_threshold=0, stats=stats)
            got = {(r["entity_id"], r["canon_id"]) for r in cc.collect()}
            walls.append(round(time.time() - t0, 2))
            assert got == expected, f"{name}: CC result differs from union-find"
        for k in confs:
            spark.conf.set(k, defaults[k])
        results[name] = {
            "walls": walls,
            "best": min(walls),
            "rounds": stats.get("rounds"),
        }
        print(f"[skew-exp] {name}: walls={walls} rounds={stats.get('rounds')}",
              file=sys.stderr)

    summary = {
        "metric": "cc_hub_skew_experiment",
        "n_edges": n_edges,
        "hub_degree": args.star,
        "cores": args.cores,
        "results": results,
        "exact_match_vs_union_find": True,
    }
    b = results["baseline"]["best"]
    md = f"""

## Hub-skew experiment: AQE skew-split on the star-step join

Graph: {n_edges} edges, ONE {args.star}-leaf hub (~{100 * args.star // n_edges}% of
all edges), local[{args.cores}], {args.skew_reps} reps each, best wall kept. Both
variants verified EXACT against driver union-find.

| variant | best wall | vs baseline | rounds |
| --- | --- | --- | --- |
| baseline (stock AQE, no salting) | {b}s | 1.00x | {results["baseline"]["rounds"]} |
| AQE skew-split tuned to 8MB thresholds | {results["aqe_tuned"]["best"]}s | {round(b / results["aqe_tuned"]["best"], 2)}x | {results["aqe_tuned"]["rounds"]} |

Reading: the hub's probe partition is ~{args.star * 40 // (1 << 20)}MB — stock AQE
never splits it (256MB threshold), so any hot-task effect shows up
undiluted in the baseline; lowering the two AQE thresholds splits it.

Regenerate: `python jobs/bench_cc.py --skew-exp --cores {args.cores} --star {args.star}`
"""
    with open(args.out, "a") as f:
        f.write(md)
    spark.stop()
    print(json.dumps(summary))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--pairs", type=int, default=150_000)
    ap.add_argument("--chains", type=int, default=60_000)
    ap.add_argument("--long-chain", type=int, default=20_000)
    ap.add_argument("--star", type=int, default=100_000)
    ap.add_argument("--random-nodes", type=int, default=400_000)
    ap.add_argument("--random-edges", type=int, default=500_000)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "CC.md"))
    ap.add_argument("--skew-exp", action="store_true",
                    help="run the hub-skew AQE comparison and "
                         "APPEND results to --out (main mode rewrites it)")
    ap.add_argument("--skew-reps", type=int, default=2)
    args = ap.parse_args()

    if args.skew_exp:
        # hub-dominated defaults unless the caller overrode them
        if args.star == 100_000:
            args.star = 2_000_000
        args.pairs = min(args.pairs, 50_000)
        args.chains = 0
        args.long_chain = 1_000
        args.random_nodes = min(args.random_nodes, 200_000)
        args.random_edges = min(args.random_edges, 200_000)
        skew_experiment(args)
        return

    from mxsparkg.graph import _driver_cc, connected_components
    from mxsparkg.session import get_spark

    edges = build_edges(args)
    n_edges = len(edges)
    spark = get_spark(
        f"local[{args.cores}]",
        shuffle_partitions=2 * args.cores,
        app_name="bench-cc",
    )
    df = spark.createDataFrame(edges, "src string, dst string").repartition(
        2 * args.cores
    )
    df.persist().count()  # materialize input outside the timed section

    stats: dict = {}
    t0 = time.time()
    cc = connected_components(df, driver_threshold=0, stats=stats)
    rows = cc.collect()
    wall = time.time() - t0

    got = {(r["entity_id"], r["canon_id"]) for r in rows}
    t1 = time.time()
    # CC drops self-edges (a node whose ONLY edge is a self-loop is a
    # singleton and absent from the edge-derived map); feed the oracle
    # the same filtered view
    expected = set(_driver_cc([(a, b) for a, b in edges if a != b]))
    oracle_wall = time.time() - t1
    assert got == expected, (
        f"distributed CC disagrees with union-find: "
        f"{len(got ^ expected)} differing rows"
    )
    n_components = len({c for _, c in expected})
    comp_sizes: dict[str, int] = {}
    for _, c in expected:
        comp_sizes[c] = comp_sizes.get(c, 0) + 1

    summary = {
        "metric": "cc_distributed_million_edge",
        "value": round(wall, 2),
        "unit": "sec",
        "n_edges": n_edges,
        "n_nodes": len(expected),
        "n_components": n_components,
        "max_component": max(comp_sizes.values()),
        "rounds": stats.get("rounds"),
        "cores": args.cores,
        "exact_match_vs_union_find": True,
        "driver_union_find_sec": round(oracle_wall, 2),
    }
    md = f"""# BENCH/CC — distributed connected components at alias-graph scale

Adversarial seeded graph: {args.pairs} pair components, {args.chains}
short chains, one {args.long_chain}-node chain (log-round worst case),
one {args.star}-leaf star (celebrity hub), {args.random_edges} random
edges over {args.random_nodes} nodes (giant sparse component + dust).

| metric | value |
| --- | --- |
| edges | {n_edges} |
| nodes | {summary["n_nodes"]} |
| components | {n_components} |
| largest component | {summary["max_component"]} |
| alternating-star rounds to fixpoint | {summary["rounds"]} |
| wall (local[{args.cores}], distributed path forced) | {summary["value"]}s |
| result vs driver union-find | EXACT ({summary["n_nodes"]} rows equal) |

The star hub and the long chain are the two adversarial shapes for star
contraction: large-star flattens the hub in one round; the chain bounds
the round count at O(log n) — measured {summary["rounds"]} rounds for a
{args.long_chain}-node chain, consistent with the Kiveris et al. analysis.
Per-round lineage is truncated (localCheckpoint; --reliable-checkpoint
switches to durable checkpoint() on a real cluster).

Regenerate: `python jobs/bench_cc.py --cores {args.cores}`
"""
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write(md)
    spark.stop()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
