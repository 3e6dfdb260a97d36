"""Pipeline benchmark: pages -> knowledge graph through
mxsparkg.pipeline.run_pipeline, on two seeded workloads.

  python3 perfbench/run.py --workload crawl_cold --seed 1 --seconds 5 --trace 0

One process per run. It generates the workload's inputs from the seed (in a
subprocess), builds its Spark session through mxsparkg.session.get_spark at
local[<cores>], runs the workload's set-up (which also warms the JVM), then
calls run_pipeline on fresh checkpoints until --seconds have passed. Every
call's terminal tables (nodes, edges, triples) must match the set-up
reference digest; the reference itself must reach triple P/R >= 0.95
against the generator's gold. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from a traced
replay of the same run (see perfbench/README.md).

  python3 perfbench/run.py --workload all --seed 1 --seconds 5

runs every workload in its own process and prints a table per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import probe  # noqa: E402
import tracing  # noqa: E402
from probe import BenchError  # noqa: E402

WORKLOADS = ("crawl_cold", "tail_highcard")
MIN_PR = 0.95
# Untimed calls after set-up: the JIT and the Python workers' caches keep
# warming for a few calls. tail_highcard's calls are long enough that a
# warm-up call would not fit the run's time budget.
WARMUP_CALLS = {"crawl_cold": 1, "tail_highcard": 0}

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
             "triples_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB"}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def generate_inputs(workload: str, seed: int, out: str) -> dict:
    """Inputs are written by a child process so the generator's memory never
    counts towards the driver's peak RSS."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--out", out],
        capture_output=True, text=True, timeout=170, check=False,
    )
    if proc.returncode != 0:
        raise BenchError(f"input generation failed:\n{proc.stderr[-2000:]}")
    info = json.loads(proc.stdout.strip().splitlines()[-1])
    if info["check_failures"]:
        raise BenchError(f"generator self-check: {info['check_failures']}")
    return info


class Workload:
    """Set-up and one timed pipeline call for one workload."""

    def __init__(self, name: str, spark, info: dict, work: str):
        self.name, self.spark, self.info, self.work = name, spark, info, work
        self.n_calls = 0
        self.reference = ""

    def _ck(self, tag: str) -> str:
        return os.path.join(self.work, f"ck_{tag}")

    def setup(self) -> None:
        """A reference run; for tail_highcard it also commits the detect
        stage every timed call resumes from."""
        base = self._ck("base")
        self.call(base)
        p, r = probe.triple_pr(base, self.info["gold_triples"])
        if p < MIN_PR or r < MIN_PR:
            raise BenchError(f"reference triple P/R {p:.4f}/{r:.4f} < {MIN_PR}")
        self.reference = probe.kg_digest(base)

    def prepare(self) -> str:
        """A fresh checkpoint for the next call (untimed)."""
        from mxsparkg.catalog import Checkpointer

        self.n_calls += 1
        ck = self._ck(f"run{self.n_calls}")
        if self.name == "tail_highcard":
            shutil.copytree(self._ck("base"), ck)
            Checkpointer(self.spark, ck).invalidate(
                "canon_map", "triples", "edges", "nodes")
        return ck

    def call(self, ck: str) -> float:
        """One run_pipeline call with the CLI's default options."""
        from mxsparkg.pipeline import run_pipeline

        t = time.perf_counter()
        run_pipeline(self.spark, self.info["pages"], self.info["entity_dict"],
                     self.info["aliases"], ck)
        return time.perf_counter() - t

    @property
    def detected_docs(self) -> int:
        """Pages one call runs detect on (tail_highcard resumes past it)."""
        return 0 if self.name == "tail_highcard" else self.info["n_pages"]


def measure(wl: Workload, seconds: float) -> tuple[dict, int, int]:
    """Warm-up calls, then timed calls until `seconds` have passed (at least
    one). Returns the end-to-end metrics, attempted and failed."""
    walls, cpus, tps = [], [], []
    attempted = failed = 0
    warmup = WARMUP_CALLS[wl.name]
    # the JVM heap keeps growing with every call, so peak RSS is read after
    # the set-up run, a fixed amount of work, not after a loop whose call
    # count varies
    peak_rss_mb = probe.tree_peak_rss_mb()
    deadline = float("inf")
    while attempted <= warmup or time.perf_counter() < deadline:
        if attempted == warmup:
            deadline = time.perf_counter() + seconds
        ck = wl.prepare()
        attempted += 1
        cpu0 = probe.tree_cpu_s()
        try:
            wall = wl.call(ck)
            cpu = probe.tree_cpu_s() - cpu0
            ok = probe.kg_digest(ck) == wl.reference
            triples = probe.manifest_rows(ck, "triples")
        except Exception as e:  # a raising call is a counted failure
            _log(f"call {attempted} raised: {e!r}")
            ok = False
        finally:
            shutil.rmtree(ck, ignore_errors=True)
        if not ok:
            failed += 1
            continue
        _log(f"call {attempted}: wall {wall:.3f} s, cpu {cpu:.2f} s")
        if attempted > warmup:
            walls.append(wall)
            cpus.append(cpu)
            tps.append(triples / wall)
    if not walls:
        return {}, attempted, failed
    wall = statistics.median(walls)
    return {
        "wall_s": wall,
        # tail_highcard: the pages whose detections the call links and rolls up
        "docs_per_s": wl.info["n_pages"] / wall,
        "triples_per_s": statistics.median(tps),
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": peak_rss_mb,
    }, attempted, failed


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "mxsparkg")):
        raise SystemExit(f"no mxsparkg package under {ROOT}: run from a checkout")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep Spark's scratch, Python workers' imports and temp files inside
    # the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = None
    try:
        info = generate_inputs(args.workload, args.seed, os.path.join(work, "in"))
        from mxsparkg.session import get_spark

        t = time.perf_counter()
        spark = get_spark(f"local[{probe.cores()}]")
        setup_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        wl = Workload(args.workload, spark, info, work)
        wl.setup()
        # the traced pass needs one untraced call for its overhead figure
        metrics, attempted, failed = measure(
            wl, 0 if args.trace else args.seconds)
        if args.trace:
            metrics = tracing.traced(wl, metrics.get("wall_s", 0.0))
        else:
            metrics["setup_s"] = setup_s
        return {"correct": failed == 0 and bool(metrics),
                "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, and with it the Python
    workers, to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    jvm = gateway.proc
    jvm.stdin.close()  # the gateway exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def run_all(args) -> int:
    """Every workload in its own process; a readable table per workload."""
    code = 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{w}: failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            code = 1
            continue
        res = json.loads(lines[-1])
        err = res["failed"] / res["attempted"]
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} error_rate={err:.3f}")
        for name, m in res["metrics"].items():
            print(f"  {name:48s} {m['value']:14.4f} {m['unit']}")
        code |= not res["correct"]
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    res = run(args)
    unit = tracing.unit if args.trace else E2E_UNITS.get
    res["metrics"] = {k: {"value": v, "unit": unit(k)}
                      for k, v in sorted(res["metrics"].items())}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:  # a failed check is a result, not a crash
        _log(f"benchmark error: {e}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
