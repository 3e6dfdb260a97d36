"""Tests of the benchmark's own code (not of the program it measures).

  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import probe  # noqa: E402
import tracing  # noqa: E402
from run import E2E_UNITS, Workload  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _dir_digest(path: str) -> str:
    return "/".join(
        probe.table_digest(os.path.join(d, f))
        for d, _, files in sorted(os.walk(path)) for f in sorted(files)
        if f.endswith(".parquet"))


def test_generators_are_deterministic_per_seed(tmp_path):
    def tail(seed, tag):
        info = gen.make_tail(str(tmp_path / tag), seed, n_pages=300,
                             n_orgs=3000)
        return _dir_digest(str(tmp_path / tag)), info

    (a, info), (b, _), (c, _) = tail(5, "a"), tail(5, "b"), tail(6, "c")
    assert a == b != c
    assert gen.check_tail({**info, "alias_edges": gen.DRIVER_THRESHOLD + 1}) == []
    d1 = gen.make_crawl(str(tmp_path / "c1"), 5, n_pages=200)
    d2 = gen.make_crawl(str(tmp_path / "c2"), 5, n_pages=200)
    assert _dir_digest(d1["pages"]) == _dir_digest(d2["pages"])


def test_tail_self_check_catches_missing_properties(tmp_path):
    info = gen.make_tail(str(tmp_path / "t"), 1, n_pages=200, n_orgs=2000)
    bad = gen.check_tail(info)  # 2000 orgs cannot reach the CC threshold
    assert any("alias edges" in b for b in bad)
    assert gen.check_tail({**info, "alias_edges": 10**6, "nil_share": 0.0}) == [
        "no unknown (NIL) surface"]


def test_digest_does_not_depend_on_partitioning(tmp_path):
    rows = {"k": [f"id{i % 37}" for i in range(500)],
            "n": list(range(500)),
            "xs": [[f"u{i}", f"v{i % 3}"] for i in range(500)]}
    table = pa.table(rows)
    one, many = tmp_path / "one", tmp_path / "many"
    one.mkdir()
    many.mkdir()
    pq.write_table(table, one / "part-0.parquet")
    shuffled = table.take(list(range(499, -1, -1)))
    for i in range(7):
        pq.write_table(shuffled.slice(i * 72, 72), many / f"part-{i}.parquet")
    assert probe.table_digest(str(one)) == probe.table_digest(str(many))
    pq.write_table(table.slice(1), one / "part-0.parquet")
    assert probe.table_digest(str(one)) != probe.table_digest(str(many))


def test_metric_names_and_units_are_valid():
    names = list(E2E_UNITS) + list(tracing.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.match(name), name
    for unit in [*E2E_UNITS.values(), *map(tracing.unit, tracing.PER_LAYER)]:
        assert UNIT_RE.match(unit), unit
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(E2E_UNITS)
    assert [m["name"] for m in bench["per_layer"]] == list(tracing.PER_LAYER)
    for m in bench["per_layer"]:
        assert m["unit"] == tracing.unit(m["name"])


@pytest.fixture(scope="module")
def spark():
    from mxsparkg.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(HERE), os.environ.get("PYTHONPATH")) if p)
    s = get_spark("local[2]", app_name="perfbench-tests")
    yield s
    s.stop()


@pytest.mark.parametrize("workload", ["crawl_cold", "tail_highcard"])
def test_traced_replay_matches_run_pipeline(spark, tmp_path, workload):
    make = {
        "crawl_cold": lambda d: gen.make_crawl(d, 3, n_pages=300),
        "tail_highcard": lambda d: gen.make_tail(d, 3, n_pages=200,
                                                 n_orgs=2000),
    }[workload]
    info = make(str(tmp_path / "in"))
    wl = Workload(workload, spark, info, str(tmp_path))
    wl.setup()
    # traced() raises BenchError unless both the run_pipeline call and the
    # stage-by-stage replay reproduce the set-up reference digest
    out = tracing.traced(wl, untraced_wall=1.0, sample_docs=50)
    assert list(out) == list(tracing.PER_LAYER)
    assert out["pipeline.run.jobs"] > 0
    assert out["catalog.detect.append_s"] > 0
    if workload == "tail_highcard":  # resumes past detect
        assert out["detect.core.us_per_doc"] == 0
        assert out["link.mentions.nil_rate"] > 0
    else:
        assert out["detect.core.us_per_doc"] > 0
