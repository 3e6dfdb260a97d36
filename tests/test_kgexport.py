"""kgexport: N-Triples serialization, ontology validation, snapshot diff.

The contract gate (tests/test_contract_gate.py) certifies all three keys
value-exactly against DuckDB; these tests pin the production functions'
semantics directly — spec-level escaping, violation detection, and the
add/del tagging — on hand-written rows where the expected output is
written out literally.
"""

import pytest
from pyspark.sql import functions as F

from mxsparkg.kgexport import (
    state_diff,
    to_ntriples,
    validate_triples,
)


def test_ntriples_escaping_and_shape(spark):
    df = spark.createDataFrame(
        [
            ("<urn:kg:e:a>", "<urn:kg:p:knows>", "<urn:kg:e:b>", False),
            ("<urn:kg:e:a>", "<urn:kg:p:label>", 'say "hi"\\now\nline\tend', True),
        ],
        ["subj", "pred", "obj", "lit"],
    )
    lines = {
        r["line"]
        for r in to_ntriples(df, obj_is_literal="lit").collect()
    }
    assert "<urn:kg:e:a> <urn:kg:p:knows> <urn:kg:e:b> ." in lines
    # backslash escaped before quote; newline/tab become \n \t
    assert (
        '<urn:kg:e:a> <urn:kg:p:label> "say \\"hi\\"\\\\now\\nline\\tend" .'
        in lines
    )


def test_ntriples_plan_has_no_shuffle_no_python(spark):
    df = spark.createDataFrame(
        [("<s>", "<p>", "<o>", False)], ["subj", "pred", "obj", "lit"]
    )
    plan = to_ntriples(df, obj_is_literal="lit")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_validate_triples_finds_only_planted_violation(spark):
    triples = spark.createDataFrame(
        [
            ("a", "in_nation", "n1", "cust", "nat"),
            ("n1", "in_region", "r1", "nat", "reg"),
            ("a", "in_region", "n1", "cust", "nat"),  # violation
        ],
        ["subj", "pred", "obj", "styp", "otyp"],
    )
    constraints = spark.createDataFrame(
        [("in_nation", "cust", "nat"), ("in_region", "nat", "reg")],
        ["pred", "styp", "otyp"],
    )
    bad = validate_triples(triples, constraints).collect()
    assert [(r["subj"], r["pred"]) for r in bad] == [("a", "in_region")]


def test_validate_triples_uses_broadcast_join(spark):
    triples = spark.createDataFrame(
        [("a", "p", "b", "s", "o")], ["subj", "pred", "obj", "styp", "otyp"]
    )
    constraints = spark.createDataFrame([("p", "s", "o")], ["pred", "styp", "otyp"])
    plan = (
        validate_triples(triples, constraints)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_state_diff_tags_adds_and_dels(spark):
    old = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y")], ["subj", "pred", "obj"]
    )
    new = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "z"), ("c", "p", "w")],
        ["subj", "pred", "obj"],
    )
    got = {
        (r["op"], r["subj"], r["obj"])
        for r in state_diff(old, new).collect()
    }
    assert got == {
        ("del", "b", "y"),
        ("add", "b", "z"),
        ("add", "c", "w"),
    }


def test_state_diff_empty_when_identical(spark):
    df = spark.createDataFrame([("a", "p", "x")], ["subj", "pred", "obj"])
    assert state_diff(df, df.select(df.columns)).count() == 0


def test_negative_sample_deterministic_and_filtered(spark):
    from mxsparkg.kgexport import negative_sample

    triples = spark.createDataFrame(
        [("s%d" % i, "p", "e%d" % (i % 4)) for i in range(40)],
        ["subj", "pred", "obj"],
    )
    entities = spark.createDataFrame(
        [(i, "e%d" % i) for i in range(4)], ["eid", "obj_neg"]
    )
    a = sorted(map(tuple, negative_sample(triples, entities, n_entities=4).collect()))
    b = sorted(map(tuple, negative_sample(triples, entities, n_entities=4).collect()))
    assert a == b and len(a) > 0          # reproducible draw
    assert all(r[3] != r[2] for r in a)   # no accidental positives
    # a different salt draws a different negative set
    c = sorted(map(tuple, negative_sample(
        triples, entities, n_entities=4, salt="neg2").collect()))
    assert c != a


def test_infer_schema_keeps_dominant_drops_rare(spark):
    from mxsparkg.kgexport import infer_schema

    rows = (
        [("p1", "A", "B")] * 95
        + [("p1", "A", "C")] * 4       # 40000 ppm < 5% floor -> dropped
        + [("p2", "X", "Y")] * 1
    )
    triples = spark.createDataFrame(rows, ["pred", "styp", "otyp"])
    got = {
        (r["pred"], r["styp"], r["otyp"]): (r["n"], r["share_ppm"])
        for r in infer_schema(triples).collect()
    }
    assert got == {
        ("p1", "A", "B"): (95, 959595),  # floor(95e6/99)
        ("p2", "X", "Y"): (1, 1000000),
    }


def test_export_edges_percent_encodes_ids(spark):
    from mxsparkg.kgexport import export_edges_ntriples

    edges = spark.createDataFrame(
        [("New York", "capital of", 'state "NY"', 3)],
        ["subj", "pred", "obj", "n_support"],
    )
    [row] = export_edges_ntriples(edges).collect()
    line = row["line"]
    # encoded IRIs contain no raw spaces or quotes; line terminates ' .'
    head = line.rsplit(" .", 1)[0]
    s, p, o = head.split(" ")
    for part in (s, p, o):
        assert part.startswith("<urn:kg:") and part.endswith(">")
        assert '"' not in part
    assert line.endswith(" .")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_apply_delta_roundtrip_and_idempotence(spark):
    """The incremental-maintenance contract: apply(old, diff(old, new))
    reconstructs new EXACTLY (adds, dels, and in-place value changes),
    and re-applying the same delta is a no-op (exactly-once under
    at-least-once delivery)."""
    from mxsparkg.kgexport import apply_state_delta, state_diff

    old = spark.createDataFrame(
        [("c1", "p", "HIGH"), ("c2", "p", "LOW"), ("c3", "p", "MED")],
        ["subj", "pred", "obj"],
    )
    new = spark.createDataFrame(
        [("c1", "p", "HIGH"),      # unchanged
         ("c2", "p", "URGENT"),    # value change (del+add same key)
         ("c4", "p", "LOW")],      # c3 removed, c4 added
        ["subj", "pred", "obj"],
    )
    delta = state_diff(old, new)
    once = apply_state_delta(old, delta, key_cols=["subj", "pred"])
    assert _rows(once) == _rows(new)
    twice = apply_state_delta(once, delta, key_cols=["subj", "pred"])
    assert _rows(twice) == _rows(new)
    # full-row key (set-valued predicate) round-trips too
    assert _rows(apply_state_delta(old, delta)) == _rows(new)


def test_merge_snapshot_versions_and_exactly_once(spark, tmp_path):
    """Storage-level exactly-once: same delta_id re-submitted -> no new
    version, same contents; a second distinct delta advances the chain."""
    from mxsparkg.kgexport import merge_snapshot, state_diff

    root = str(tmp_path / "edges_snapshots")
    s0 = spark.createDataFrame([("a", "p", "x"), ("b", "p", "y")],
                               ["subj", "pred", "obj"])
    s1 = spark.createDataFrame([("a", "p", "x"), ("b", "p", "z")],
                               ["subj", "pred", "obj"])
    s2 = spark.createDataFrame([("b", "p", "z"), ("c", "p", "w")],
                               ["subj", "pred", "obj"])
    d1 = state_diff(s0, s1)
    r1 = merge_snapshot(spark, root, d1, "crawl-2026-08-01",
                        key_cols=["subj", "pred"], base=s0)
    assert r1 == {"version": 1, "rows": 2, "applied": True}
    # replay the same delta job -> no-op, version unchanged
    r1b = merge_snapshot(spark, root, d1, "crawl-2026-08-01",
                         key_cols=["subj", "pred"])
    assert r1b == {"version": 1, "rows": 2, "applied": False}
    assert _rows(spark.read.parquet(f"{root}/v=1/data")) == _rows(s1)
    # a new delta advances to v=2 built on v=1
    r2 = merge_snapshot(spark, root, state_diff(s1, s2), "crawl-2026-08-08",
                        key_cols=["subj", "pred"])
    assert r2["version"] == 2 and r2["applied"]
    assert _rows(spark.read.parquet(f"{root}/v=2/data")) == _rows(s2)


def test_apply_delta_on_real_temporal_states(spark, sf001):
    """End-to-end on the contract tables: the T1 state + the T1->T2 diff
    must equal the T2 state row-for-row."""
    from mxsparkg.kgexport import (
        DIFF_T1, DIFF_T2, _as_of_state, _t, apply_state_delta, state_diff,
    )

    orders = _t(spark, sf001, "orders")
    s1 = _as_of_state(orders, DIFF_T1)
    s2 = _as_of_state(orders, DIFF_T2)
    got = apply_state_delta(s1, state_diff(s1, s2), key_cols=["subj", "pred"])
    assert _rows(got) == _rows(s2)


def test_bgp_2hop_matches_and_prunes(spark):
    """Hand-built 3-predicate KG: the pattern ?x in ?y . ?y part_of ?z
    must enumerate exactly the chains through the shared variable, and
    triples of other predicates (label noise sharing the same columns)
    must never appear as hops."""
    from mxsparkg.kgexport import bgp_2hop

    triples = spark.createDataFrame(
        [
            ("a", "in", "y1"), ("b", "in", "y1"), ("c", "in", "y2"),
            ("y1", "part_of", "z1"), ("y2", "part_of", "z2"),
            # noise: same columns, different predicate — must be pruned
            ("y1", "label", "z9"), ("a", "label", "y2"),
        ],
        ["subj", "pred", "obj"],
    )
    got = {(r.x, r.y, r.z) for r in bgp_2hop(triples, "in", "part_of").collect()}
    assert got == {("a", "y1", "z1"), ("b", "y1", "z1"), ("c", "y2", "z2")}


def test_read_snapshot_time_travel(spark, tmp_path):
    """Time-travel reads over the version chain: every committed version
    stays readable as-of, latest is the default, an uncommitted (torn)
    dir is invisible, and an unknown version is a hard error."""
    import os

    import pytest as _pytest

    from mxsparkg.kgexport import (
        merge_snapshot, read_snapshot, snapshot_versions, state_diff,
    )

    root = str(tmp_path / "tt")
    s0 = spark.createDataFrame([("a", "p", "x"), ("b", "p", "y")],
                               ["subj", "pred", "obj"])
    s1 = spark.createDataFrame([("a", "p", "x"), ("b", "p", "z")],
                               ["subj", "pred", "obj"])
    merge_snapshot(spark, root, state_diff(s0, s1), "d1",
                   key_cols=["subj", "pred"], base=s0)
    merge_snapshot(
        spark, root,
        state_diff(s1, s1.limit(1)), "d2", key_cols=["subj", "pred"],
    )
    assert [v for v, _ in snapshot_versions(root)] == [1, 2]
    assert _rows(read_snapshot(spark, root, 1)) == _rows(s1)
    assert _rows(read_snapshot(spark, root)) == _rows(
        read_snapshot(spark, root, 2))
    # torn write: data without a _DELTA_ID marker is invisible
    torn = os.path.join(root, "v=3", "data")
    s1.write.mode("overwrite").parquet(torn)
    assert [v for v, _ in snapshot_versions(root)] == [1, 2]
    assert _rows(read_snapshot(spark, root)) == _rows(
        read_snapshot(spark, root, 2))
    with _pytest.raises(ValueError, match="not committed"):
        read_snapshot(spark, root, 3)
    # ... and committing the next delta SKIPS over the torn dir? No:
    # merge_snapshot numbers from the committed max, so the torn v=3 is
    # overwritten by the real v=3 — the torn write never resurrects.
    r3 = merge_snapshot(spark, root, state_diff(s1, s0), "d3",
                        key_cols=["subj", "pred"])
    assert r3["version"] == 3 and r3["applied"]
    assert _rows(read_snapshot(spark, root, 3)) != _rows(s1)


def test_nquads_provenance_lines(spark):
    """N-Quads: every line carries the source page as the 4th (graph)
    term, IRIs percent-encoded, and a triple asserted by two different
    pages yields two distinct quads (the provenance N-Triples would
    collapse)."""
    from mxsparkg.kgexport import export_triples_nquads

    t = spark.createDataFrame(
        [
            ("a b", "rel", "c", "http://x.com/p?q=1"),
            ("a b", "rel", "c", "http://y.com/p"),
        ],
        ["subj", "pred", "obj", "url"],
    )
    lines = sorted(r.line for r in export_triples_nquads(t).collect())
    assert len(lines) == len(set(lines)) == 2  # same triple, two quads
    assert lines[0] == (
        "<urn:kg:e:a+b> <urn:kg:p:rel> <urn:kg:e:c> "
        "<urn:kg:src:http%3A%2F%2Fx.com%2Fp%3Fq%3D1> ."
    )
    for ln in lines:
        assert ln.count(" ") == 4 and ln.endswith(" .")
        assert " <urn:kg:src:" in ln


def test_jsonld_round_trips_the_triple_set(spark, sf001):
    """Every kg_jsonld doc must be valid JSON, and parsing the whole
    export back must reproduce EXACTLY the triple set it serialized —
    escaping, grouping, and sorting are all under this certificate."""
    import json

    from mxsparkg.kgexport import BASE_E, BASE_P, kg_jsonld

    docs = kg_jsonld(spark, sf001).collect()
    got = set()
    for r in docs:
        node = json.loads(r.doc)  # raises on any malformed escape
        subj = node.pop("@id")
        assert subj == r.subj
        assert len(node) == r.n_preds
        for pred, vals in node.items():
            assert pred.startswith(BASE_P)
            assert vals == sorted(vals, key=lambda v: json.dumps(v))
            for v in vals:
                if isinstance(v, dict):
                    got.add((subj, pred, v["@id"], False))
                else:
                    got.add((subj, pred, v, True))
    cust = spark.read.parquet(f"{sf001}/customer.parquet").collect()
    nat = spark.read.parquet(f"{sf001}/nation.parquet").collect()
    want = set()
    for c in cust:
        want.add((f"{BASE_E}cust:{c.c_custkey}", f"{BASE_P}in_nation",
                  f"{BASE_E}nat:{c.c_nationkey}", False))
    for n in nat:
        want.add((f"{BASE_E}nat:{n.n_nationkey}", f"{BASE_P}in_region",
                  f"{BASE_E}reg:{n.n_regionkey}", False))
        want.add((f"{BASE_E}nat:{n.n_nationkey}", f"{BASE_P}label",
                  f'{n.n_name} "r\\{n.n_regionkey}"', True))
    assert got == want


def test_jsonld_escapes_every_c0_control_char(spark):
    """JSON forbids raw U+0000-U+001F in strings: literals carrying
    backspace, form feed, \\x01 (and the short-escaped tab/newline) must
    still give docs that json.loads accepts and that round-trip."""
    import json

    from mxsparkg.kgexport import to_jsonld

    lits = ["a\bb", "c\fd", "e\x01f", "g\x1fh\ti\nj\rk", 'q"\\']
    df = spark.createDataFrame(
        [("urn:s", "urn:p", v, True) for v in lits]
        + [("urn:s", "urn:p", "urn:o", False)],
        "subj string, pred string, obj string, lit boolean",
    )
    (row,) = to_jsonld(df, obj_is_literal="lit").collect()
    node = json.loads(row.doc)
    assert sorted(v for v in node["urn:p"] if isinstance(v, str)) == sorted(lits)
    assert {"@id": "urn:o"} in node["urn:p"]
    assert "\\u0008" in row.doc and "\\u000c" in row.doc


def test_literal_norm_parses_and_rejects(spark, sf001):
    """Unit normalization: every well-formed literal lands in exact
    integer micrometers (si_um = qty_milli x um-factor), every corrupted
    literal (the %37 plant) survives with parsed=0 and NULL si."""
    from mxsparkg.kgexport import _UNIT_UM, kg_literal_norm

    rows = kg_literal_norm(spark, sf001).collect()
    assert rows
    seen_units = set()
    for r in rows:
        if r.lit_id % 37 == 0:
            assert r.parsed == 0 and r.si_um is None, r
            assert r.raw.startswith("approx ")
        else:
            assert r.parsed == 1, r
            assert r.si_um == r.qty_milli * _UNIT_UM[r.unit], r
            seen_units.add(r.unit)
    assert seen_units == set(_UNIT_UM)


def test_date_norm_round_trips_iso(spark, sf001):
    """Date normalization: parsing the planted '<d> <Month> <yyyy>'
    surface form reproduces the source date's ISO form exactly."""
    from mxsparkg.kgexport import kg_date_norm

    rows = kg_date_norm(spark, sf001).collect()
    assert rows
    for r in rows:
        assert r.parsed == 1
        assert r.iso == r.want_iso, r


def test_owl_inverse_closure_swap_symmetric_dedup(spark):
    """inverseOf entailment: swapped triple under the inverse pred,
    symmetric predicates swap onto themselves, and a triple both
    asserted and entailed collapses to one row with asserted=1."""
    from mxsparkg.kgexport import owl_inverse_closure

    t = spark.createDataFrame(
        [("a", "in_nation", "n1"),     # entails (n1, has_citizen, a)
         ("x", "adjacent_to", "y"),    # entails (y, adjacent_to, x)
         ("y", "adjacent_to", "x"),    # pre-asserted reverse -> dedup
         ("a", "label", "A")],         # no declared inverse -> untouched
        "subj string, pred string, obj string",
    )
    got = {
        (r.subj, r.pred, r.obj): r.asserted
        for r in owl_inverse_closure(t).collect()
    }
    assert got == {
        ("a", "in_nation", "n1"): 1,
        ("n1", "has_citizen", "a"): 0,
        ("x", "adjacent_to", "y"): 1,
        ("y", "adjacent_to", "x"): 1,   # asserted wins over entailed
        ("a", "label", "A"): 1,
    }
