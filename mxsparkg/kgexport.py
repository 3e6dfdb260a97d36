"""KG output-stage operators: RDF N-Triples export, ontology constraint
validation, and temporal snapshot diff (SURVEY.md §2.10/§2.11 extensions).

The north-star pipeline materializes nodes/edges tables (graph.py); real
KG consumers then need three more things this module provides:

1. **Standard-format export** — downstream triple stores (Jena, Virtuoso,
   RDF-star lakes) ingest N-Triples, not parquet. `to_ntriples` serializes
   an edge table into spec-conformant N-Triples lines entirely with
   JVM-side string built-ins (concat/replace): one narrow projection, no
   shuffle, no Python — at 10^12 triples the export is exactly as
   parallel as the input split count, and each output partition is a
   valid N-Triples document on its own (line-oriented format), so
   `df.write.text` sharding needs no coordination.

2. **Ontology validation** — a (pred, subj_type, obj_type) domain/range
   constraint table is model-sized (hundreds of rows), so validation is a
   broadcast ANTI join: the triple stream is scanned once, violations
   never shuffle, and the constraint side ships to every executor. This
   is the same broadcast-dictionary shape as link.py's entity linking.

3. **Incremental maintenance** — a web-crawl KG is re-derived from
   snapshots; consumers need the delta (added/removed triples) between
   two as-of states, not a full reload. `state_diff` computes it with two
   EXCEPTs (hash-partitioned on the whole row, map-side combinable); the
   as-of state itself is a row_number window per key — the same
   best-per-key shape as link.py's W1.

Contract keys derive deterministic triples from the driver's TPC-H
tables (customer/nation/region/orders) so the DuckDB gate can certify
byte-identical serialization, identical violation sets, and identical
deltas. Escaping is made non-vacuous by planting quotes and backslashes
into the literal labels inside the query (same planted-data trick as the
dedup keys — /root/testdata is never modified).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BASE_E = "urn:kg:e:"   # entity IRI prefix
BASE_P = "urn:kg:p:"   # predicate IRI prefix

# temporal-diff contract cutoffs (TPC-H orderdates span 1992-1998, so both
# cutoffs bisect the data and the add AND del sides are non-empty)
DIFF_T1 = "1995-01-01"
DIFF_T2 = "1996-07-01"

# planted violation stride for the type-check key
TYPECHECK_BAD_MOD = 97


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------------ production --

def iri(kind: str, key: Column) -> Column:
    """`<urn:kg:e:{kind}:{key}>` — entity IRI from a typed key column."""
    return F.concat(F.lit(f"<{BASE_E}{kind}:"), key.cast("string"), F.lit(">"))


def escape_literal(col: Column) -> Column:
    """N-Triples string-literal escaping (backslash first, then quote —
    order matters or the escape backslashes get re-escaped). Newline/CR/tab
    follow the same replace chain. All JVM built-ins: stays inside
    whole-stage codegen."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    return F.replace(c, F.lit("\t"), F.lit("\\t"))


# C0 control characters without a short escape in escape_literal: JSON
# strings may not carry any U+0000-U+001F raw
_C0_REST = tuple(i for i in range(0x20) if chr(i) not in "\n\r\t")


def escape_json_literal(col: Column) -> Column:
    """escape_literal, then every other C0 control character as \\u00XX,
    so the literal is valid JSON string content."""
    c = escape_literal(col)
    for i in _C0_REST:
        c = F.replace(c, F.lit(chr(i)), F.lit(f"\\u{i:04x}"))
    return c


def _escape_json_sql(esc: str) -> str:
    """DuckDB mirror of escape_json_literal's C0 arm over the SQL
    expression `esc` (escape_literal's replace chain)."""
    for i in _C0_REST:
        esc = f"replace({esc}, chr({i}), '\\u{i:04x}')"
    return esc


def to_ntriples(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    obj_is_literal: str | None = None,
) -> DataFrame:
    """Serialize IRI-valued (subj, pred, obj) columns to an N-Triples
    `line` column. If `obj_is_literal` names a boolean column, rows where
    it is true render the object as an escaped quoted literal instead of
    an IRI. Pure projection: no shuffle, no Python, output partitioning ==
    input partitioning."""
    s, p, o = F.col(subj), F.col(pred), F.col(obj)
    if obj_is_literal is None:
        rendered = o
    else:
        rendered = F.when(
            F.col(obj_is_literal),
            F.concat(F.lit('"'), escape_literal(o), F.lit('"')),
        ).otherwise(o)
    line = F.concat(s, F.lit(" "), p, F.lit(" "), rendered, F.lit(" ."))
    return triples.select(s.alias("subj"), p.alias("pred"), line.alias("line"))


def export_triples_nquads(triples: DataFrame) -> DataFrame:
    """Provenance-carrying N-Quads export of the pipeline's TRIPLES
    table (subj, pred, obj, url, ...): the 4th term is the source page
    as a graph IRI, so every statement in the downstream store answers
    'which crawl page said this' — the provenance question the 3-term
    exports (X1/X12) drop and a web KG cannot live without. Entity/
    predicate ids are percent-encoded into the urn:kg namespaces like
    export_edges_ntriples; the graph term percent-encodes the source
    url into urn:kg:src:. Same posture as N-Triples: pure projection,
    line-oriented, every shard independently a valid N-Quads document,
    export parallelism == the triple table's split count."""
    enc = lambda c: F.url_encode(F.col(c))  # noqa: E731
    line = F.concat(
        F.lit(f"<{BASE_E}"), enc("subj"), F.lit(f"> <{BASE_P}"),
        enc("pred"), F.lit(f"> <{BASE_E}"), enc("obj"),
        F.lit("> <urn:kg:src:"), enc("url"), F.lit("> ."),
    )
    return triples.select(
        F.col("subj"), F.col("pred"), F.col("url").alias("graph"),
        line.alias("line"),
    )


def validate_triples(triples: DataFrame, constraints: DataFrame) -> DataFrame:
    """Domain/range check: rows of `triples` (with styp/otyp type columns)
    whose (pred, styp, otyp) is NOT in the broadcast `constraints` table.
    Left-anti against a broadcast side = single scan of the triple stream,
    violations never shuffle; the constraint table is model-sized by
    construction (an ontology, not data)."""
    return triples.join(
        F.broadcast(constraints), on=["pred", "styp", "otyp"], how="left_anti"
    )


def state_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Tagged delta between two KG states over identical schemas:
    op='add' rows are in `new` only, op='del' rows in `old` only. Two
    EXCEPTs, each one hash-shuffle on the full row with map-side distinct;
    unchanged triples (the overwhelming mass between adjacent crawl
    snapshots) are dropped at the map side and never reach the reducer."""
    adds = new.exceptAll(old).withColumn("op", F.lit("add"))
    dels = old.exceptAll(new).withColumn("op", F.lit("del"))
    cols = ["op", *old.columns]
    return adds.select(cols).unionByName(dels.select(cols))


def export_edges_ntriples(edges: DataFrame) -> DataFrame:
    """Serialize the pipeline's materialized edges table (subj, pred, obj,
    n_support, …) into N-Triples `line`s: entity ids and predicates are
    percent-encoded (url_encode — JVM built-in) into the urn:kg namespace
    so arbitrary mined ids (spaces, quotes, unicode) yield valid IRIs.
    Write with `df.select("line").write.text(dir)` — the format is
    line-oriented, so every shard is independently a valid N-Triples
    document and the export parallelism equals the edge table's split
    count (no coordination, no shuffle)."""
    enc = lambda c: F.url_encode(F.col(c))  # noqa: E731
    t = edges.select(
        F.concat(F.lit(f"<{BASE_E}"), enc("subj"), F.lit(">")).alias("subj"),
        F.concat(F.lit(f"<{BASE_P}"), enc("pred"), F.lit(">")).alias("pred"),
        F.concat(F.lit(f"<{BASE_E}"), enc("obj"), F.lit(">")).alias("obj"),
    )
    return to_ntriples(t)


def export_edges_turtle(edges: DataFrame) -> DataFrame:
    """Serialize the pipeline's materialized edges table into Turtle
    subject blocks (see to_turtle): percent-encoded IRIs like
    export_edges_ntriples, one `block` per subject with the sorted
    ';'-joined predicate list. Write with
    `df.select("block").write.text(dir)` — blocks are self-contained, so
    every shard is independently valid Turtle and export parallelism is
    the groupBy's partitioning."""
    enc = lambda c: F.url_encode(F.col(c))  # noqa: E731
    t = edges.select(
        F.concat(F.lit(f"<{BASE_E}"), enc("subj"), F.lit(">")).alias("subj"),
        F.concat(F.lit(f"<{BASE_P}"), enc("pred"), F.lit(">")).alias("pred"),
        F.concat(F.lit(f"<{BASE_E}"), enc("obj"), F.lit(">")).alias("obj"),
    )
    return to_turtle(t)


def export_edges_jsonld(edges: DataFrame) -> DataFrame:
    """Serialize the pipeline's materialized edges table into compacted
    JSON-LD node objects (see to_jsonld): percent-encoded bare IRIs, one
    self-contained JSON document per subject, so
    `df.select("doc").write.text(dir)` yields valid JSON-Lines shards and
    export parallelism is the groupBy's partitioning."""
    enc = lambda c: F.url_encode(F.col(c))  # noqa: E731
    t = edges.select(
        F.concat(F.lit(BASE_E), enc("subj")).alias("subj"),
        F.concat(F.lit(BASE_P), enc("pred")).alias("pred"),
        F.concat(F.lit(BASE_E), enc("obj")).alias("obj"),
    )
    return to_jsonld(t)


def negative_sample(
    triples: DataFrame,
    entities: DataFrame,
    entity_id: str = "eid",
    entity_val: str = "obj_neg",
    n_entities: int | None = None,
    salt: str = "neg",
) -> DataFrame:
    """TransE-style corrupted-object sampling for KG-embedding training:
    each (subj, pred, obj) gets a deterministic pseudo-random replacement
    object drawn by hashing (subj, pred, salt) into a dense entity-id
    space, then equi-joining the (broadcastable-or-not) entity table.
    Accidental positives (obj_neg == obj) are dropped — the standard
    filtered-sampling convention, and the only branch-free deterministic
    choice.

    Determinism is a lineage feature: re-running the job on any cluster
    size reproduces the exact training pairs (the hash is md5-derived, no
    RNG state). `entities` must carry a dense 0..n-1 id column
    `entity_id` — the KG pipeline's canonicalization stage already
    assigns dense ids, and a dense id is what makes corruption an
    equi-join instead of a sort or a sampled crossJoin. Vary `salt` to
    draw k independent negatives per positive."""
    if n_entities is None:
        n_entities = entities.count()  # one scalar job, model-sized result
    h = F.md5(
        F.concat(F.col("subj"), F.lit("|"), F.col("pred"), F.lit("|" + salt))
        .cast("binary")
    )
    # 3 hex chars -> deterministic int via ascii() (identical-expression
    # rule: DuckDB has no hex->int conv; ascii arithmetic is bit-identical
    # in both engines and uniformity is ample for sampling)
    idx = (
        (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1)))
        * 256
        + F.ascii(F.substring(h, 3, 1))
    ) % n_entities
    ent = entities.select(
        F.col(entity_id).alias("_neg_id"), F.col(entity_val).alias("obj_neg")
    )
    return (
        triples.withColumn("_neg_id", idx)
        .join(ent, on="_neg_id", how="inner")
        .filter(F.col("obj_neg") != F.col("obj"))
        .drop("_neg_id")
    )


# 25 nations in TPC-H at every scale factor (dense n_nationkey 0..24)
N_NATIONS = 25


def kg_negsample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic corrupted-object negatives over the cust→in_nation
    KG slice; entity space = the 25 dense-keyed nations. Certifies the
    hash-index + entity equi-join + accidental-positive filter exactly."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    triples = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        F.lit("in_nation").alias("pred"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
    )
    entities = nat.select(
        F.col("n_nationkey").alias("eid"),
        iri("nat", F.col("n_nationkey")).alias("obj_neg"),
    )
    return negative_sample(triples, entities, n_entities=N_NATIONS)


def kg_negsample_sql() -> str:
    return f"""
      WITH triples AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               'in_nation' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj
        FROM customer),
      hashed AS (
        SELECT subj, pred, obj,
               ((ascii(substr(md5(subj || '|' || pred || '|neg'), 1, 1)) * 256
                 + ascii(substr(md5(subj || '|' || pred || '|neg'), 2, 1)))
                * 256
                + ascii(substr(md5(subj || '|' || pred || '|neg'), 3, 1)))
               % {N_NATIONS} AS neg_id
        FROM triples)
      SELECT h.subj, h.pred, h.obj,
             '<{BASE_E}nat:' || CAST(n.n_nationkey AS VARCHAR) || '>' AS obj_neg
      FROM hashed h JOIN nation n ON n.n_nationkey = h.neg_id
      WHERE '<{BASE_E}nat:' || CAST(n.n_nationkey AS VARCHAR) || '>' <> h.obj
    """


SCHEMA_MIN_SHARE_PPM = 50_000  # signature must cover ≥5% of its pred's mass


def infer_schema(triples: DataFrame,
                 min_share_ppm: int = SCHEMA_MIN_SHARE_PPM) -> DataFrame:
    """Ontology induction — mine the (pred, styp, otyp) domain/range
    signatures that dominate each predicate (the constraint table
    validate_triples consumes, derived from data instead of hand-written).
    share is exact integer ppm (floor(10^6·n/total)): no float division
    in the threshold, so the kept set is bit-stable across engines and
    cluster sizes. Two map-side-combinable groupBys (signature counts,
    per-pred totals) + one equi-join on pred — the signature space is
    types², model-sized, so everything after the first aggregation is
    tiny."""
    sig = triples.groupBy("pred", "styp", "otyp").agg(F.count("*").alias("n"))
    tot = sig.groupBy("pred").agg(F.sum("n").alias("tot"))
    ppm = (F.lit(1_000_000) * F.col("n") - F.pmod(
        F.lit(1_000_000) * F.col("n"), F.col("tot"))) / F.col("tot")
    return (
        sig.join(tot, on="pred")
        .withColumn("share_ppm", ppm.cast("long"))
        .filter(F.col("share_ppm") >= min_share_ppm)
        .select("pred", "styp", "otyp", "n", "share_ppm")
    )


def kg_schema_infer(spark: SparkSession, sf: str) -> DataFrame:
    """Induce the schema from the same typed-triple mix as kg_type_check.
    The planted wrong-type signature's share of in_region scales with
    sf (customers grow, nations don't), so the key certifies both sides
    of the floor: the dominant signatures always survive, and the
    planted signature's exact ppm share is part of the hashed output
    whenever it clears the floor."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    good1 = cust.select(
        F.lit("in_nation").alias("pred"),
        F.lit("cust").alias("styp"), F.lit("nat").alias("otyp"),
    )
    good2 = nat.select(
        F.lit("in_region").alias("pred"),
        F.lit("nat").alias("styp"), F.lit("reg").alias("otyp"),
    )
    bad = cust.filter(F.col("c_custkey") % TYPECHECK_BAD_MOD == 0).select(
        F.lit("in_region").alias("pred"),
        F.lit("cust").alias("styp"), F.lit("nat").alias("otyp"),
    )
    return infer_schema(good1.unionByName(good2).unionByName(bad))


def kg_schema_infer_sql() -> str:
    return f"""
      WITH triples AS (
        SELECT 'in_nation' AS pred, 'cust' AS styp, 'nat' AS otyp
        FROM customer
        UNION ALL
        SELECT 'in_region', 'nat', 'reg' FROM nation
        UNION ALL
        SELECT 'in_region', 'cust', 'nat' FROM customer
        WHERE c_custkey % {TYPECHECK_BAD_MOD} = 0),
      sig AS (
        SELECT pred, styp, otyp, COUNT(*) AS n
        FROM triples GROUP BY pred, styp, otyp),
      tot AS (SELECT pred, SUM(n) AS tot FROM sig GROUP BY pred)
      SELECT s.pred, s.styp, s.otyp, s.n,
             CAST((1000000 * s.n - ((1000000 * s.n % t.tot + t.tot) % t.tot))
                  / t.tot AS BIGINT) AS share_ppm
      FROM sig s JOIN tot t ON t.pred = s.pred
      WHERE CAST((1000000 * s.n - ((1000000 * s.n % t.tot + t.tot) % t.tot))
                 / t.tot AS BIGINT) >= {SCHEMA_MIN_SHARE_PPM}
    """


# ---------------------------------------------------------- contract keys --

def kg_ntriples(spark: SparkSession, sf: str) -> DataFrame:
    """Serialize a deterministic 3-relation KG slice to N-Triples:
    customer→in_nation→nation and nation→in_region→region entity triples,
    plus a literal label triple per nation with planted quote+backslash
    characters so the escape path is exercised under the hash gate."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    p_in_nation = F.lit(f"<{BASE_P}in_nation>")
    p_in_region = F.lit(f"<{BASE_P}in_region>")
    p_label = F.lit(f"<{BASE_P}label>")
    t1 = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        p_in_nation.alias("pred"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
        F.lit(False).alias("lit"),
    )
    t2 = nat.select(
        iri("nat", F.col("n_nationkey")).alias("subj"),
        p_in_region.alias("pred"),
        iri("reg", F.col("n_regionkey")).alias("obj"),
        F.lit(False).alias("lit"),
    )
    # planted label: NAME "r\K" — quotes AND a backslash in one literal
    label = F.concat(
        F.col("n_name"), F.lit(' "r\\'),
        F.col("n_regionkey").cast("string"), F.lit('"'),
    )
    t3 = nat.select(
        iri("nat", F.col("n_nationkey")).alias("subj"),
        p_label.alias("pred"),
        label.alias("obj"),
        F.lit(True).alias("lit"),
    )
    allt = t1.unionByName(t2).unionByName(t3)
    return to_ntriples(allt, obj_is_literal="lit")


def kg_ntriples_sql() -> str:
    # DuckDB replace() chain mirrors escape_literal exactly (order included)
    esc = (
        "replace(replace(replace(replace(replace(obj,"
        " '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'),"
        " chr(13), '\\r'), chr(9), '\\t')"
    )
    return f"""
      WITH t AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               '<{BASE_P}in_nation>' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj,
               FALSE AS lit
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               '<{BASE_P}in_region>',
               '<{BASE_E}reg:' || CAST(n_regionkey AS VARCHAR) || '>',
               FALSE
        FROM nation
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               '<{BASE_P}label>',
               n_name || ' "r\\' || CAST(n_regionkey AS VARCHAR) || '"',
               TRUE
        FROM nation)
      SELECT subj, pred,
             subj || ' ' || pred || ' ' ||
             CASE WHEN lit THEN '"' || {esc} || '"' ELSE obj END
             || ' .' AS line
      FROM t
    """


def kg_type_check(spark: SparkSession, sf: str) -> DataFrame:
    """Ontology domain/range validation over typed triples, with a planted
    wrong-type triple every TYPECHECK_BAD_MOD-th customer (in_region used
    with a cust→nat signature) so the violation set is non-empty and the
    broadcast anti-join is certified value-exactly.

    styp/otyp are DERIVED from the IRI namespace after the union — the
    production path (types live in the ids), and also what keeps the
    anti-join a BroadcastHashJoin: per-branch literal type columns
    constant-fold the equi-condition into constant comparisons and Spark
    falls back to the interpreted BroadcastNestedLoopJoin over the full
    triple stream (plan-asserted in tests/test_plans.py)."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    good1 = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        F.lit("in_nation").alias("pred"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
    )
    good2 = nat.select(
        iri("nat", F.col("n_nationkey")).alias("subj"),
        F.lit("in_region").alias("pred"),
        iri("reg", F.col("n_regionkey")).alias("obj"),
    )
    bad = cust.filter(F.col("c_custkey") % TYPECHECK_BAD_MOD == 0).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        F.lit("in_region").alias("pred"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
    )
    kind = lambda c: F.regexp_extract(F.col(c), r":e:([a-z]+):", 1)  # noqa: E731
    triples = (
        good1.unionByName(good2)
        .unionByName(bad)
        .select(
            "subj", "pred", "obj",
            kind("subj").alias("styp"), kind("obj").alias("otyp"),
        )
    )
    constraints = spark.createDataFrame(
        [("in_nation", "cust", "nat"), ("in_region", "nat", "reg")],
        ["pred", "styp", "otyp"],
    )
    return validate_triples(triples, constraints)


def kg_type_check_sql() -> str:
    return f"""
      WITH triples AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               'in_nation' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj,
               'cust' AS styp, 'nat' AS otyp
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               'in_region',
               '<{BASE_E}reg:' || CAST(n_regionkey AS VARCHAR) || '>',
               'nat', 'reg'
        FROM nation
        UNION ALL
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>',
               'in_region',
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>',
               'cust', 'nat'
        FROM customer WHERE c_custkey % {TYPECHECK_BAD_MOD} = 0),
      constraints AS (
        SELECT * FROM (VALUES
          ('in_nation', 'cust', 'nat'),
          ('in_region', 'nat', 'reg')) c(pred, styp, otyp))
      SELECT pred, styp, otyp, subj, obj FROM triples t
      WHERE NOT EXISTS (
        SELECT 1 FROM constraints c
        WHERE c.pred = t.pred AND c.styp = t.styp AND c.otyp = t.otyp)
    """


def _as_of_state(orders: DataFrame, cutoff: str) -> DataFrame:
    """KG state as of `cutoff`: each customer's latest order priority,
    tie-broken deterministically (orderdate desc, orderkey desc)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            iri("cust", F.col("o_custkey")).alias("subj"),
            F.lit("last_priority").alias("pred"),
            F.col("o_orderpriority").alias("obj"),
        )
    )


def apply_state_delta(
    base: DataFrame, delta: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """IDEMPOTENT merge of a state_diff / streaming_edge_support delta
    into a materialized state table — the consumer the diff producers
    were missing. `delta` carries op='add'/'del' rows over base's schema.

    Semantics (MERGE INTO equivalent):
      1. rows matching a del row (full row) are removed,
      2. rows sharing a KEY with any add row are removed (upsert),
      3. distinct add rows are inserted.
    `key_cols` is the entity key (e.g. [subj, pred] for single-valued
    predicates, [subj, pred, obj] / None for set-valued); dels still
    match on the FULL row so a del for an already-replaced version is a
    no-op. Re-applying the same delta is exactly a no-op (dels no longer
    match, adds' keys anti-join themselves back out before re-insert), so
    at-least-once delivery upstream (Kafka replays, stage retries, the
    streaming sink's commit-retry window) cannot corrupt the table —
    pytest proves apply(old, diff(old,new)) == new and double-apply ==
    single-apply.

    Scale shape: two anti-joins against the delta (delta is snapshot-
    deltas-sized — tiny next to the table — so AQE turns both into
    broadcast anti-joins and the base table never shuffles) + one union.
    The production path on Iceberg is MERGE INTO (copy-on-write manifest
    rewrite); merge_snapshot() below is the same contract over plain
    parquet version directories for environments without a table
    format."""
    cols = base.columns
    kc = key_cols or cols
    adds = delta.filter(F.col("op") == "add").select(cols).distinct()
    dels = delta.filter(F.col("op") == "del").select(cols)
    survived = base.join(dels, on=cols, how="left_anti")
    survived = survived.join(adds.select(kc).distinct(), on=kc, how="left_anti")
    return survived.unionByName(adds).select(cols)


def merge_snapshot(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    delta_id: str,
    key_cols: list[str] | None = None,
    base: DataFrame | None = None,
) -> dict:
    """Exactly-once delta application onto a version-directory parquet
    table (the in-sandbox stand-in for Iceberg MERGE INTO): `root`
    contains v=N snapshot dirs, each committed by a `_DELTA_ID` marker
    file written AFTER the parquet data (torn writes leave no marker and
    are ignored — the same commit-marker discipline as catalog.py's
    checkpoints). If any committed version already carries `delta_id`,
    the call is a no-op (exactly-once under re-submission of the same
    delta job); otherwise the latest snapshot + delta are merged via
    apply_state_delta into v=N+1. `base` seeds v=1 when the root is
    empty. Returns {version, rows, applied(bool)}."""
    import os

    os.makedirs(root, exist_ok=True)
    versions = snapshot_versions(root)
    for v, did in versions:
        if did == delta_id:
            n = spark.read.parquet(os.path.join(root, f"v={v}", "data")).count()
            return {"version": v, "rows": n, "applied": False}
    if versions:
        latest = max(v for v, _ in versions)
        cur = spark.read.parquet(os.path.join(root, f"v={latest}", "data"))
        new_v = latest + 1
        out = apply_state_delta(cur, delta, key_cols)
    else:
        if base is None:
            raise ValueError("empty snapshot root requires a `base` table")
        new_v = 1
        out = apply_state_delta(base, delta, key_cols)
    vdir = os.path.join(root, f"v={new_v}")
    out.write.mode("overwrite").parquet(os.path.join(vdir, "data"))
    n = spark.read.parquet(os.path.join(vdir, "data")).count()
    with open(os.path.join(vdir, "_DELTA_ID"), "w") as fh:
        fh.write(delta_id)
    return {"version": new_v, "rows": n, "applied": True}


def snapshot_versions(root: str) -> list[tuple[int, str]]:
    """Committed (version, delta_id) pairs of a version-directory table,
    ascending. Only dirs with a `_DELTA_ID` commit marker count — a torn
    write (data without marker) is invisible, same as an uncommitted
    Iceberg snapshot."""
    import os

    out = []
    if not os.path.isdir(root):
        return out
    for d in sorted(os.listdir(root)):
        marker = os.path.join(root, d, "_DELTA_ID")
        if d.startswith("v=") and os.path.exists(marker):
            with open(marker) as fh:
                out.append((int(d[2:]), fh.read().strip()))
    return sorted(out)


def expire_snapshots(root: str, keep_last: int = 2) -> list[int]:
    """Snapshot retention GC — the maintenance sweep every
    version-directory table (and every Iceberg/Delta deployment:
    expireSnapshots / VACUUM) needs once the delta applier has run for a
    while: committed versions older than the newest `keep_last` are
    deleted and their storage reclaimed; time-travel reads to an expired
    version fail with the same hard error as an unknown version (the
    read_snapshot contract — the retention window IS the time-travel
    horizon, stated rather than discovered).

    Crash safety inverts the commit order: the `_DELTA_ID` marker is
    removed FIRST, then the data — a crash mid-GC leaves a torn dir
    that snapshot_versions already treats as uncommitted/invisible, so
    a half-deleted snapshot can never be read (and a re-run finishes
    the sweep, because marker-less dirs under the root are swept too).
    Refuses keep_last < 1 (expiring the latest committed snapshot would
    leave the table unreadable). Returns the expired version numbers."""
    import os
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    committed = [v for v, _ in snapshot_versions(root)]
    expired = committed[:-keep_last] if len(committed) > keep_last else []
    for v in expired:
        d = os.path.join(root, f"v={v}")
        os.remove(os.path.join(d, "_DELTA_ID"))  # uncommit first
        shutil.rmtree(d, ignore_errors=True)
    # finish any prior interrupted sweep: marker-less v= dirs are torn
    if os.path.isdir(root):
        live = {f"v={v}" for v, _ in snapshot_versions(root)}
        for d in os.listdir(root):
            if d.startswith("v=") and d not in live:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return expired


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Time-travel read over the version-directory table merge_snapshot
    maintains — the in-sandbox `SELECT ... VERSION AS OF n` (Iceberg /
    Delta time travel): read the committed snapshot `version`, or the
    latest when None. Reading an uncommitted or unknown version is a
    hard error listing what exists — silently reading a torn write is
    how a resumed pipeline doubles its edges. Each version is one
    directory scan; no delta replay at read time (merge_snapshot
    materializes full snapshots, the read-optimized trade Iceberg calls
    copy-on-write)."""
    import os

    versions = [v for v, _ in snapshot_versions(root)]
    if not versions:
        raise ValueError(f"no committed snapshots under {root}")
    if version is None:
        version = max(versions)
    if version not in versions:
        raise ValueError(
            f"version {version} is not committed under {root}; "
            f"available: {versions}"
        )
    return spark.read.parquet(os.path.join(root, f"v={version}", "data"))


def kg_apply_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key for the delta applier: diff the DIFF_T1→DIFF_T2 states
    (same construction as kg_temporal_diff), then apply the delta to the
    OLD state TWICE — the double application certifies, inside the
    hash-gated plan itself, both the merge arithmetic (result must equal
    the new state, asserted in pytest) and its idempotence (second apply
    must change nothing), with the DuckDB oracle running the identical
    double-apply. Key = (subj, pred): last_priority is single-valued."""
    orders = _t(spark, sf, "orders")
    s1 = _as_of_state(orders, DIFF_T1)
    delta = state_diff(s1, _as_of_state(orders, DIFF_T2))
    once = apply_state_delta(s1, delta, key_cols=["subj", "pred"])
    twice = apply_state_delta(once, delta, key_cols=["subj", "pred"])
    return twice.orderBy("subj", "pred", "obj")


def kg_apply_delta_sql() -> str:
    state = """
        SELECT '<{be}cust:' || CAST(o_custkey AS VARCHAR) || '>' AS subj,
               'last_priority' AS pred, o_orderpriority AS obj
        FROM (
          SELECT o_custkey, o_orderpriority,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders WHERE o_orderdate < TIMESTAMP '{cut}')
        WHERE rn = 1"""
    s1 = state.format(be=BASE_E, cut=DIFF_T1)
    s2 = state.format(be=BASE_E, cut=DIFF_T2)

    def apply_cte(src: str, n: int) -> str:
        return f"""del_gone{n} AS (
        SELECT subj, pred, obj FROM {src} t
        WHERE NOT EXISTS (
          SELECT 1 FROM dels d
          WHERE d.subj = t.subj AND d.pred = t.pred AND d.obj = t.obj)),
      keyfree{n} AS (
        SELECT subj, pred, obj FROM del_gone{n} t
        WHERE NOT EXISTS (
          SELECT 1 FROM adds a
          WHERE a.subj = t.subj AND a.pred = t.pred)),
      applied{n} AS (
        SELECT subj, pred, obj FROM keyfree{n}
        UNION ALL SELECT subj, pred, obj FROM adds)"""

    return f"""
      WITH s1 AS ({s1}), s2 AS ({s2}),
      adds AS (
        SELECT DISTINCT subj, pred, obj FROM (
          SELECT subj, pred, obj FROM s2
          EXCEPT ALL SELECT subj, pred, obj FROM s1)),
      dels AS (
        SELECT subj, pred, obj FROM s1
        EXCEPT ALL SELECT subj, pred, obj FROM s2),
      {apply_cte('s1', 1)},
      {apply_cte('applied1', 2)}
      SELECT subj, pred, obj FROM applied2 ORDER BY subj, pred, obj
    """


def kg_temporal_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Delta between the KG state as of DIFF_T1 and DIFF_T2: customers
    whose latest-order priority changed produce one del + one add row;
    customers first seen in the window produce an add only. Certifies the
    as-of window + double-EXCEPT incremental-maintenance core."""
    orders = _t(spark, sf, "orders")
    return state_diff(_as_of_state(orders, DIFF_T1), _as_of_state(orders, DIFF_T2))


def kg_temporal_diff_sql() -> str:
    state = """
        SELECT '<{be}cust:' || CAST(o_custkey AS VARCHAR) || '>' AS subj,
               'last_priority' AS pred, o_orderpriority AS obj
        FROM (
          SELECT o_custkey, o_orderpriority,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders WHERE o_orderdate < TIMESTAMP '{cut}')
        WHERE rn = 1"""
    s1 = state.format(be=BASE_E, cut=DIFF_T1)
    s2 = state.format(be=BASE_E, cut=DIFF_T2)
    return f"""
      WITH s1 AS ({s1}), s2 AS ({s2})
      SELECT 'add' AS op, subj, pred, obj FROM (
        SELECT subj, pred, obj FROM s2 EXCEPT ALL SELECT subj, pred, obj FROM s1)
      UNION ALL
      SELECT 'del' AS op, subj, pred, obj FROM (
        SELECT subj, pred, obj FROM s1 EXCEPT ALL SELECT subj, pred, obj FROM s2)
    """


# ---------------------------------------------------------------- registry --

def bgp_2hop(triples: DataFrame, p1: str, p2: str) -> DataFrame:
    """SPARQL-style 2-hop basic-graph-pattern match over the unified
    (subj, pred, obj) triple layout: `?x p1 ?y . ?y p2 ?z` → (x, y, z).
    The operator a KG query front-end compiles every path pattern to.

    Scale shape: the two pred equality filters reach the triple scan as
    PushedFilters (in production the triples table is PARTITIONED BY pred,
    so each leg reads only its predicate's files — partition pruning makes
    the scan proportional to the matched predicates, not the KG). The hop
    join is a plain equi-join on the shared variable: sort-merge by
    default, broadcast when one predicate is dimension-sized (Catalyst/AQE
    decide from actual leg sizes), AQE skew-split for celebrity hop
    nodes."""
    t1 = triples.filter(F.col("pred") == p1).select(
        F.col("subj").alias("x"), F.col("obj").alias("y")
    )
    t2 = triples.filter(F.col("pred") == p2).select(
        F.col("subj").alias("y"), F.col("obj").alias("z")
    )
    return t1.join(t2, "y")


def kg_bgp_2hop(spark: SparkSession, sf: str) -> DataFrame:
    """2-hop BGP over a 4-predicate KG built from customer/supplier/nation:
    `?x in_nation ?y . ?y in_region ?z`, rolled up to (nation, region,
    kind-of-x, count). Both entity kinds (cust/supp) flow through hop 1 —
    the pattern matches them uniformly, which is the point of the triple
    layout — while the label triples prove the pred filter genuinely
    prunes (they share the subj/obj columns but never reach the join)."""
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    triples = (
        cust.select(
            iri("cust", F.col("c_custkey")).alias("subj"),
            F.lit("in_nation").alias("pred"),
            iri("nat", F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(supp.select(
            iri("supp", F.col("s_suppkey")).alias("subj"),
            F.lit("in_nation").alias("pred"),
            iri("nat", F.col("s_nationkey")).alias("obj"),
        ))
        .unionByName(nat.select(
            iri("nat", F.col("n_nationkey")).alias("subj"),
            F.lit("in_region").alias("pred"),
            iri("reg", F.col("n_regionkey")).alias("obj"),
        ))
        .unionByName(nat.select(
            iri("nat", F.col("n_nationkey")).alias("subj"),
            F.lit("label").alias("pred"),
            F.col("n_name").alias("obj"),
        ))
    )
    paths = bgp_2hop(triples, "in_nation", "in_region")
    kind = F.regexp_extract("x", r"urn:kg:e:([a-z]+):", 1)
    return (
        paths.select(kind.alias("kind"), "y", "z")
        .groupBy("kind", F.col("y").alias("nat"), F.col("z").alias("reg"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy("kind", "nat", "reg")
    )


def kg_bgp_2hop_sql() -> str:
    return f"""
      WITH triples AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               'in_nation' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}supp:' || CAST(s_suppkey AS VARCHAR) || '>',
               'in_nation',
               '<{BASE_E}nat:' || CAST(s_nationkey AS VARCHAR) || '>'
        FROM supplier
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               'in_region',
               '<{BASE_E}reg:' || CAST(n_regionkey AS VARCHAR) || '>'
        FROM nation
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               'label', n_name
        FROM nation),
      hop1 AS (
        SELECT subj AS x, obj AS y FROM triples WHERE pred = 'in_nation'),
      hop2 AS (
        SELECT subj AS y, obj AS z FROM triples WHERE pred = 'in_region')
      SELECT regexp_extract(h1.x, 'urn:kg:e:([a-z]+):', 1) AS kind,
             h1.y AS nat, h2.z AS reg,
             count(*) AS n_paths
      FROM hop1 h1 JOIN hop2 h2 ON h1.y = h2.y
      GROUP BY 1, 2, 3
      ORDER BY kind, nat, reg
    """


def to_turtle(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    obj_is_literal: str | None = None,
) -> DataFrame:
    """Turtle serialization with predicate-list grouping: one block per
    subject, `<s> <p1> o1 ;\\n  <p2> o2 .` — the prefix-compressed RDF
    surface next to to_ntriples' line-per-triple one (real exports offer
    both; Turtle is what humans and most triple stores ingest). Object
    literals escape exactly like N-Triples.

    Scale + determinism shape: one map-side-combinable collect per
    subject; the predicate list is assembled by sort_array over
    (pred, rendered-object) structs — collect_list order is
    partition-dependent, so the sort is the determinism guarantee
    (bit-stable at any parallelism, exactly DuckDB's string_agg ...
    ORDER BY). Per-subject predicate counts are KG-schema-bounded, so no
    group can go quadratic. Returns (subj, n_preds, block)."""
    s, p, o = F.col(subj), F.col(pred), F.col(obj)
    if obj_is_literal is None:
        rendered = o
    else:
        rendered = F.when(
            F.col(obj_is_literal),
            F.concat(F.lit('"'), escape_literal(o), F.lit('"')),
        ).otherwise(o)
    entries = triples.select(
        s.alias("subj"),
        F.struct(p.alias("p"), rendered.alias("r")).alias("e"),
    )
    body = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("e")),
            lambda x: F.concat(x["p"], F.lit(" "), x["r"]),
        ),
        " ;\n  ",
    )
    return entries.groupBy("subj").agg(
        F.count(F.lit(1)).alias("n_preds"),
        F.concat(F.col("subj"), F.lit(" "), body, F.lit(" .")).alias(
            "block"),
    )


def kg_turtle(spark: SparkSession, sf: str) -> DataFrame:
    """Turtle export of the same deterministic 3-relation KG slice as
    kg_ntriples (customer→nation, nation→region, planted-escape nation
    labels) — nations carry all three predicate kinds, so the multi-
    predicate ';' grouping path is exercised under the hash gate."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    t1 = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        F.lit(f"<{BASE_P}in_nation>").alias("pred"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
        F.lit(False).alias("lit"),
    )
    t2 = nat.select(
        iri("nat", F.col("n_nationkey")).alias("subj"),
        F.lit(f"<{BASE_P}in_region>").alias("pred"),
        iri("reg", F.col("n_regionkey")).alias("obj"),
        F.lit(False).alias("lit"),
    )
    label = F.concat(
        F.col("n_name"), F.lit(' "r\\'),
        F.col("n_regionkey").cast("string"), F.lit('"'),
    )
    t3 = nat.select(
        iri("nat", F.col("n_nationkey")).alias("subj"),
        F.lit(f"<{BASE_P}label>").alias("pred"),
        label.alias("obj"),
        F.lit(True).alias("lit"),
    )
    return to_turtle(
        t1.unionByName(t2).unionByName(t3), obj_is_literal="lit"
    )


def kg_turtle_sql() -> str:
    esc = (
        "replace(replace(replace(replace(replace(obj,"
        " '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'),"
        " chr(13), '\\r'), chr(9), '\\t')"
    )
    return f"""
      WITH t AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               '<{BASE_P}in_nation>' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj,
               FALSE AS lit
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               '<{BASE_P}in_region>',
               '<{BASE_E}reg:' || CAST(n_regionkey AS VARCHAR) || '>',
               FALSE
        FROM nation
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               '<{BASE_P}label>',
               n_name || ' "r\\' || CAST(n_regionkey AS VARCHAR) || '"',
               TRUE
        FROM nation),
      r AS (
        SELECT subj, pred,
               CASE WHEN lit THEN '"' || {esc} || '"' ELSE obj END AS rend
        FROM t)
      SELECT subj, CAST(count(*) AS BIGINT) AS n_preds,
             subj || ' ' ||
             string_agg(pred || ' ' || rend, ' ;' || chr(10) || '  '
                        ORDER BY pred, rend)
             || ' .' AS block
      FROM r GROUP BY subj
    """



def to_jsonld(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    obj_is_literal: str | None = None,
) -> DataFrame:
    """Compacted JSON-LD serialization — the third RDF surface beside
    N-Triples/N-Quads lines and Turtle blocks: one JSON node object per
    subject, `{"@id": s, p1: [o1, o2], p2: [...]}`, IRIs as `{"@id":...}`
    objects and literals as plain JSON strings (valid compact form). The
    escape chain for JSON string content is the N-Triples one
    (backslash-first, then quote/newline/CR/tab) plus a \\u00XX escape
    for every other C0 control character (escape_json_literal), which
    JSON forbids raw.

    PRECONDITION: subject/predicate/IRI-object strings are emitted into
    JSON verbatim, so they must already be JSON-clean — i.e. IRIs in a
    quote/backslash-free encoding (export_edges_jsonld url_encodes them;
    the gate slice's urn:kg: IRIs are clean by construction). Only the
    LITERAL arm is escaped.

    Determinism + scale shape mirrors to_turtle: predicates within a node
    and values within a predicate are sorted (collect_list order is
    partition-dependent; sort_array is the bit-stability guarantee), both
    rollups are map-side-combinable groupBys, and per-subject fan-in is
    KG-schema-bounded. Returns (subj, n_preds, doc) where doc parses with
    any JSON parser (round-trip pytest-pinned)."""
    s, p, o = F.col(subj), F.col(pred), F.col(obj)
    if obj_is_literal is None:
        rendered = F.concat(F.lit('{"@id":"'), o, F.lit('"}'))
    else:
        rendered = F.when(
            F.col(obj_is_literal),
            F.concat(F.lit('"'), escape_json_literal(o), F.lit('"')),
        ).otherwise(F.concat(F.lit('{"@id":"'), o, F.lit('"}')))
    per_pred = (
        triples.select(s.alias("subj"), p.alias("pred"), rendered.alias("r"))
        .groupBy("subj", "pred")
        .agg(
            F.concat(
                F.lit('"'), F.col("pred"), F.lit('":['),
                F.array_join(F.sort_array(F.collect_list("r")), ","),
                F.lit("]"),
            ).alias("frag")
        )
    )
    body = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("pred"), F.col("frag")))
            ),
            lambda x: x["frag"],
        ),
        ",",
    )
    return per_pred.groupBy("subj").agg(
        F.count(F.lit(1)).alias("n_preds"),
        F.concat(
            F.lit('{"@id":"'), F.col("subj"), F.lit('",'), body, F.lit("}")
        ).alias("doc"),
    )


def kg_jsonld(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-LD export of the same deterministic 3-relation KG slice as
    kg_ntriples/kg_turtle (bare IRIs — JSON-LD keys carry no angle
    brackets), nation labels planting the quote+backslash escape chain
    under the value hash."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    bare = lambda kind, key: F.concat(  # noqa: E731 - local shorthand
        F.lit(f"{BASE_E}{kind}:"), key.cast("string")
    )
    t1 = cust.select(
        bare("cust", F.col("c_custkey")).alias("subj"),
        F.lit(f"{BASE_P}in_nation").alias("pred"),
        bare("nat", F.col("c_nationkey")).alias("obj"),
        F.lit(False).alias("lit"),
    )
    t2 = nat.select(
        bare("nat", F.col("n_nationkey")).alias("subj"),
        F.lit(f"{BASE_P}in_region").alias("pred"),
        bare("reg", F.col("n_regionkey")).alias("obj"),
        F.lit(False).alias("lit"),
    )
    label = F.concat(
        F.col("n_name"), F.lit(' "r\\'),
        F.col("n_regionkey").cast("string"), F.lit('"'),
    )
    t3 = nat.select(
        bare("nat", F.col("n_nationkey")).alias("subj"),
        F.lit(f"{BASE_P}label").alias("pred"),
        label.alias("obj"),
        F.lit(True).alias("lit"),
    )
    return to_jsonld(
        t1.unionByName(t2).unionByName(t3), obj_is_literal="lit"
    )


def kg_jsonld_sql() -> str:
    esc = _escape_json_sql(
        "replace(replace(replace(replace(replace(obj,"
        " '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'),"
        " chr(13), '\\r'), chr(9), '\\t')"
    )
    return f"""
      WITH t AS (
        SELECT '{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) AS subj,
               '{BASE_P}in_nation' AS pred,
               '{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) AS obj,
               FALSE AS lit
        FROM customer
        UNION ALL
        SELECT '{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR),
               '{BASE_P}in_region',
               '{BASE_E}reg:' || CAST(n_regionkey AS VARCHAR),
               FALSE
        FROM nation
        UNION ALL
        SELECT '{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR),
               '{BASE_P}label',
               n_name || ' "r\\' || CAST(n_regionkey AS VARCHAR) || '"',
               TRUE
        FROM nation),
      r AS (
        SELECT subj, pred,
               CASE WHEN lit THEN '"' || {esc} || '"'
                    ELSE '{{"@id":"' || obj || '"}}' END AS rend
        FROM t),
      pp AS (
        SELECT subj, pred,
               '"' || pred || '":[' ||
               string_agg(rend, ',' ORDER BY rend) || ']' AS frag
        FROM r GROUP BY subj, pred)
      SELECT subj, CAST(count(*) AS BIGINT) AS n_preds,
             '{{"@id":"' || subj || '",' ||
             string_agg(frag, ',' ORDER BY pred) || '}}' AS doc
      FROM pp GROUP BY subj
    """


# --- literal normalization: the production step right after extraction ---
# A web KG's object literals arrive as surface strings ("3.05 km",
# "5 March 1998"); before fusion/conflict-detection they must be
# canonicalized, or the same fact from two pages reads as two facts.
# Both normalizers run on the portable built-in subset (printf-style
# formatting, Java-regex ∩ RE2 patterns, integer arithmetic only — no
# float parsing, no locale functions), so Spark and DuckDB agree
# bit-for-bit and the gate certifies the WHOLE parse→normalize chain.

_UNIT_UM = {"mm": 1, "cm": 10, "m": 1_000, "km": 1_000_000}
_UNITS = list(_UNIT_UM)         # planted unit cycle, index by key mod 4
_QTY_RE = r"^([0-9]+)\.([0-9]{2}) ([a-z]+)$"
_MONTHS = ["January", "February", "March", "April", "May", "June",
           "July", "August", "September", "October", "November",
           "December"]
_DATE_RE = r"^([0-9]{1,2}) ([A-Za-z]+) ([0-9]{4})$"


def kg_literal_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Measurement-literal normalization: parse '<int>.<2dp> <unit>'
    strings (planted deterministically from lineitem — value from
    l_quantity/l_partkey, unit cycling mm/cm/m/km, every 37th literal
    corrupted with a prefix to exercise the reject arm) and normalize to
    exact integer MICROMETERS: si_um = (whole·1000 + frac·10) · um-per-
    milliunit. Zero floats anywhere — '3.05' is parsed as two integer
    regex groups, never as a double, so there is no representability
    drift between engines. Malformed literals surface with parsed=0 and
    NULL si (kept, not dropped — a fusion pass needs to see them)."""
    li = _t(spark, sf, "lineitem")
    unit = F.element_at(
        F.array(*[F.lit(u) for u in _UNITS]),
        (F.col("l_partkey") % 4 + 1).cast("int"),
    )
    raw_core = F.format_string(
        "%d.%02d %s",
        F.col("l_quantity").cast("long"),
        F.col("l_partkey") % 100,
        unit,
    )
    lit_id = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    raw = F.when(lit_id % 37 == 0, F.concat(F.lit("approx "), raw_core)) \
        .otherwise(raw_core)
    g = lambda i: F.regexp_extract(F.col("raw"), _QTY_RE, i)  # noqa: E731
    factor = F.create_map(
        *[F.lit(x) for kv in _UNIT_UM.items() for x in kv]
    )[F.col("unit")]
    return (
        li.select(lit_id.alias("lit_id"), raw.alias("raw"))
        .withColumn("unit", g(3))
        .withColumn(
            "qty_milli",
            F.when(
                g(1) != "",
                g(1).cast("long") * 1000 + g(2).cast("long") * 10,
            ),
        )
        .select(
            "lit_id", "raw",
            F.coalesce(
                (F.col("qty_milli").isNotNull()
                 & factor.isNotNull()).cast("int"),
                F.lit(0),
            ).alias("parsed"),
            F.when(F.col("unit") != "", F.col("unit")).alias("unit"),
            "qty_milli",
            (F.col("qty_milli") * factor).alias("si_um"),
        )
    )


def kg_literal_norm_sql() -> str:
    units = ", ".join(f"'{u}'" for u in _UNITS)
    fac = " ".join(
        f"WHEN '{u}' THEN {f}" for u, f in _UNIT_UM.items()
    )
    return f"""
      WITH planted AS (
        SELECT l_orderkey * 8 + l_linenumber AS lit_id,
               CASE WHEN (l_orderkey * 8 + l_linenumber) % 37 = 0
                    THEN 'approx ' ELSE '' END ||
               printf('%d.%02d %s',
                      CAST(l_quantity AS BIGINT),
                      l_partkey % 100,
                      [{units}][CAST(l_partkey % 4 AS INT) + 1]) AS raw
        FROM lineitem),
      parsed AS (
        SELECT lit_id, raw,
               regexp_extract(raw, '{_QTY_RE}', 1) AS g1,
               regexp_extract(raw, '{_QTY_RE}', 2) AS g2,
               regexp_extract(raw, '{_QTY_RE}', 3) AS g3
        FROM planted)
      SELECT lit_id, raw,
             CASE WHEN g1 <> '' AND (CASE g3 {fac} END) IS NOT NULL
                  THEN 1 ELSE 0 END AS parsed,
             CASE WHEN g3 <> '' THEN g3 END AS unit,
             CASE WHEN g1 <> ''
                  THEN g1::BIGINT * 1000 + g2::BIGINT * 10 END AS qty_milli,
             CASE WHEN g1 <> ''
                  THEN (g1::BIGINT * 1000 + g2::BIGINT * 10)
                       * (CASE g3 {fac} END) END AS si_um
      FROM parsed
    """


def kg_date_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Date-literal normalization: parse '<d> <MonthName> <yyyy>' surface
    strings (planted from l_shipdate via an explicit month-name CASE map
    — no locale-dependent formatter in either engine) back to ISO
    'yyyy-mm-dd', month resolved case-insensitively against the same
    12-entry map. The gate certifies round-trip identity: normalized ==
    the ISO form of the source date for every parseable literal."""
    li = _t(spark, sf, "lineitem")
    mname = F.element_at(
        F.array(*[F.lit(m) for m in _MONTHS]),
        F.month("l_shipdate"),
    )
    lit_id = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    raw = F.format_string(
        "%d %s %d", F.dayofmonth("l_shipdate"), mname, F.year("l_shipdate")
    )
    g = lambda i: F.regexp_extract(F.col("raw"), _DATE_RE, i)  # noqa: E731
    mnum = F.create_map(
        *[F.lit(x) for m, i in zip(_MONTHS, range(1, 13))
          for x in (m.lower(), i)]
    )[F.lower(g(2))]
    return (
        li.select(
            lit_id.alias("lit_id"),
            raw.alias("raw"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("want_iso"),
        )
        .withColumn("mnum", mnum)
        .select(
            "lit_id", "raw",
            F.coalesce(
                (F.col("mnum").isNotNull()).cast("int"), F.lit(0)
            ).alias("parsed"),
            F.when(
                F.col("mnum").isNotNull(),
                F.format_string(
                    "%04d-%02d-%02d",
                    g(3).cast("int"), F.col("mnum"), g(1).cast("int"),
                ),
            ).alias("iso"),
            "want_iso",
        )
    )


def kg_date_norm_sql() -> str:
    mnames = ", ".join(f"'{m}'" for m in _MONTHS)
    mmap = " ".join(
        f"WHEN '{m.lower()}' THEN {i}"
        for i, m in enumerate(_MONTHS, start=1)
    )
    return f"""
      WITH planted AS (
        SELECT l_orderkey * 8 + l_linenumber AS lit_id,
               printf('%d %s %d',
                      CAST(date_part('day', l_shipdate) AS BIGINT),
                      [{mnames}][CAST(date_part('month', l_shipdate)
                                      AS INT)],
                      CAST(date_part('year', l_shipdate) AS BIGINT)) AS raw,
               strftime(l_shipdate, '%Y-%m-%d') AS want_iso
        FROM lineitem),
      parsed AS (
        SELECT lit_id, raw, want_iso,
               regexp_extract(raw, '{_DATE_RE}', 1) AS g1,
               CASE lower(regexp_extract(raw, '{_DATE_RE}', 2))
                    {mmap} END AS mnum,
               regexp_extract(raw, '{_DATE_RE}', 3) AS g3
        FROM planted)
      SELECT lit_id, raw,
             CASE WHEN mnum IS NOT NULL THEN 1 ELSE 0 END AS parsed,
             CASE WHEN mnum IS NOT NULL
                  THEN printf('%04d-%02d-%02d',
                              g3::INT, mnum, g1::INT) END AS iso,
             want_iso
      FROM parsed
    """


def detect_conflicts(triples: DataFrame,
                     functional_preds: list[str] | None = None) -> DataFrame:
    """Production functional-property conflict report over a pipeline
    edges/triples table (subj, pred, obj[, n_support]): subjects claiming
    >1 distinct object for a functional predicate, with the
    lexicographic-min resolution (swap the ORDER BY for source-reliability
    weights when provenance carries them). Same rollup shape as the
    kg_conflict gate key; per-(subj,pred) cost bounded by claim
    multiplicity, never corpus size."""
    t = triples.select("subj", "pred", "obj")
    if functional_preds:
        t = t.filter(F.col("pred").isin(list(functional_preds)))
    return (
        t.groupBy("subj", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_claims"),
            F.countDistinct("obj").alias("n_objs"),
            F.min("obj").alias("resolved_obj"),
            F.md5(
                F.concat_ws(",", F.sort_array(F.collect_set("obj")))
                .cast("binary")
            ).alias("objs_fp"),
        )
        .filter(F.col("n_objs") > 1)
    )


CONFLICT_MOD_2 = 17   # every 17th customer gets a 2nd in_nation claim
CONFLICT_MOD_3 = 51   # every 51st (subset) gets a 3rd, from another source


def kg_conflict(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: functional-property conflict detection — the consistency
    check a KG pipeline runs after fusing claims from multiple extractors
    / crawl snapshots: `in_nation` is functional (one nation per
    customer), so any subject with >1 distinct object is a contradiction
    to surface, with a deterministic resolution (lexicographic-min object
    — the placeholder for source-reliability-weighted truth discovery,
    which would only change the ORDER BY). Conflicts are planted in-query
    (the dedup planting idiom): every 17th customer gets a second claim
    from extractor src_b pointing at the next nation, every 51st a third
    from src_c — so 2-way and 3-way conflicts both exist and the clean
    customers provably do NOT appear.

    Scale shape: one union + one map-side-combinable groupBy on subj;
    the object-set fingerprint is concat_ws over sort_array(collect_set)
    — bounded by the claim multiplicity (<= #sources), never by corpus
    size. At 10^12 triples this is the exact shape of the X2 type check:
    a per-subject rollup with a planted-violation certificate."""
    cust = _t(spark, sf, "customer")
    base = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
        F.lit("src_a").alias("source"),
    )
    extra2 = cust.filter(F.col("c_custkey") % CONFLICT_MOD_2 == 3).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", (F.col("c_nationkey") + 1) % 25).alias("obj"),
        F.lit("src_b").alias("source"),
    )
    extra3 = cust.filter(F.col("c_custkey") % CONFLICT_MOD_3 == 3).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", (F.col("c_nationkey") + 2) % 25).alias("obj"),
        F.lit("src_c").alias("source"),
    )
    claims = base.unionByName(extra2).unionByName(extra3)
    return (
        claims.groupBy("subj")
        .agg(
            F.count(F.lit(1)).alias("n_claims"),
            F.countDistinct("obj").alias("n_objs"),
            F.min("obj").alias("resolved_obj"),
            F.md5(
                F.concat_ws(",", F.sort_array(F.collect_set("obj")))
                .cast("binary")
            ).alias("objs_fp"),
            F.concat_ws(",", F.sort_array(F.collect_set("source")))
            .alias("sources"),
        )
        .filter(F.col("n_objs") > 1)
        .select(
            "subj", F.lit("in_nation").alias("pred"),
            "n_claims", "n_objs", "resolved_obj", "objs_fp", "sources",
        )
    )


def kg_conflict_sql() -> str:
    s = f"'<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>'"

    def o(shift: int) -> str:
        if shift == 0:
            return f"'<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>'"
        return (f"'<{BASE_E}nat:' || CAST((c_nationkey + {shift}) % 25"
                f" AS VARCHAR) || '>'")

    return f"""
      WITH claims AS (
        SELECT {s} AS subj, {o(0)} AS obj, 'src_a' AS source FROM customer
        UNION ALL
        SELECT {s}, {o(1)}, 'src_b' FROM customer
        WHERE c_custkey % {CONFLICT_MOD_2} = 3
        UNION ALL
        SELECT {s}, {o(2)}, 'src_c' FROM customer
        WHERE c_custkey % {CONFLICT_MOD_3} = 3),
      g AS (
        SELECT subj,
               CAST(count(*) AS BIGINT) AS n_claims,
               CAST(count(DISTINCT obj) AS BIGINT) AS n_objs,
               min(obj) AS resolved_obj,
               md5(string_agg(DISTINCT obj, ',' ORDER BY obj)) AS objs_fp,
               string_agg(DISTINCT source, ',' ORDER BY source) AS sources
        FROM claims GROUP BY subj)
      SELECT subj, 'in_nation' AS pred, n_claims, n_objs,
             resolved_obj, objs_fp, sources
      FROM g WHERE n_objs > 1
    """


def source_reliability(triples: DataFrame,
                       source_col: str = "url") -> DataFrame:
    """Production source scoring over the pipeline TRIPLES table
    (subj, pred, obj, url): resolve each (subj, pred) to its
    lexicographic-min object, score each source page by the exact-ppm
    share of its claims agreeing with the resolution. The gate key
    kg_source_reliability certifies this exact rollup shape on planted
    claims; here the sources are the crawl pages themselves, so the
    output ranks pages by how often they contradict the corpus — the
    triage list a KG curator reads first."""
    c = triples.select("subj", "pred", "obj",
                       F.col(source_col).alias("source"))
    resolved = c.groupBy("subj", "pred").agg(F.min("obj").alias("res"))
    scored = c.join(resolved, ["subj", "pred"]).select(
        "source",
        (F.col("obj") == F.col("res")).cast("bigint").alias("agree"),
    )
    g = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_claims"),
        F.sum("agree").alias("n_agree"),
    )
    num = F.lit(1_000_000) * F.col("n_agree")
    den = F.col("n_claims")
    ppm = (num - F.pmod(num, den)) / den
    return g.select(
        "source", "n_claims", "n_agree",
        ppm.cast("bigint").alias("agree_ppm"),
    )


def kg_source_reliability(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: per-source reliability scoring — the first iteration of
    truth discovery over the SAME planted multi-source claim set as
    kg_conflict: resolve every (subj, pred) to its lexicographic-min
    object, then score each source by the ppm of its claims that agree
    with the resolution. One round of the classic fixpoint (source
    trust <- claim agreement <- resolved values <- source trust);
    further rounds would weight the resolution by these scores, changing
    only the argmin's ORDER BY. The planted geometry makes the scores
    closed-form checkable: src_a always agrees on clean subjects and
    wins min-resolution ties on conflicted ones exactly when its nation
    IRI sorts lowest.

    Scale shape: resolution is one map-side-combinable min per (subj,
    pred); scoring is one equi-join back on (subj, pred) + one
    per-source rollup — two shuffles at any corpus size, claims never
    fan out."""
    cust = _t(spark, sf, "customer")
    base = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
        F.lit("src_a").alias("source"),
    )
    extra2 = cust.filter(F.col("c_custkey") % CONFLICT_MOD_2 == 3).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", (F.col("c_nationkey") + 1) % 25).alias("obj"),
        F.lit("src_b").alias("source"),
    )
    extra3 = cust.filter(F.col("c_custkey") % CONFLICT_MOD_3 == 3).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", (F.col("c_nationkey") + 2) % 25).alias("obj"),
        F.lit("src_c").alias("source"),
    )
    claims = base.unionByName(extra2).unionByName(extra3)
    resolved = claims.groupBy("subj").agg(F.min("obj").alias("res"))
    scored = claims.join(resolved, "subj").select(
        "source",
        (F.col("obj") == F.col("res")).cast("bigint").alias("agree"),
    )
    g = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_claims"),
        F.sum("agree").alias("n_agree"),
    )
    num = F.lit(1_000_000) * F.col("n_agree")
    den = F.col("n_claims")
    ppm = (num - F.pmod(num, den)) / den
    return g.select(
        "source", "n_claims", "n_agree",
        ppm.cast("bigint").alias("agree_ppm"),
    )


def kg_source_reliability_sql() -> str:
    s = f"'<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>'"

    def o(shift: int) -> str:
        if shift == 0:
            return f"'<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>'"
        return (f"'<{BASE_E}nat:' || CAST((c_nationkey + {shift}) % 25"
                f" AS VARCHAR) || '>'")

    return f"""
      WITH claims AS (
        SELECT {s} AS subj, {o(0)} AS obj, 'src_a' AS source FROM customer
        UNION ALL
        SELECT {s}, {o(1)}, 'src_b' FROM customer
        WHERE c_custkey % {CONFLICT_MOD_2} = 3
        UNION ALL
        SELECT {s}, {o(2)}, 'src_c' FROM customer
        WHERE c_custkey % {CONFLICT_MOD_3} = 3),
      res AS (SELECT subj, min(obj) AS res FROM claims GROUP BY subj),
      sc AS (
        SELECT source,
               CASE WHEN c.obj = r.res THEN 1 ELSE 0 END AS agree
        FROM claims c JOIN res r USING (subj)),
      g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_claims,
               CAST(sum(agree) AS BIGINT) AS n_agree
        FROM sc GROUP BY source)
      SELECT source, n_claims, n_agree,
             CAST((1000000 * n_agree
                   - ((1000000 * n_agree) % n_claims + n_claims) % n_claims)
                  / n_claims AS BIGINT) AS agree_ppm
      FROM g
    """


def kg_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: truth-discovery round 2 — reliability-WEIGHTED claim
    fusion over the same planted multi-source claim set: each candidate
    object's vote is the exact-ppm reliability of its asserting sources
    (round-1 scores from kg_source_reliability's rollup, computed inline
    so the key is self-contained), and the fused object is the
    argmax-by-(weight, obj) — so a trusted source now outvotes two
    untrusted ones, which is precisely what round 1's unweighted min
    could not express. The argmax is deterministic via a two-stage
    rollup (max vote per subject, then min object among the tied
    winners) — portable where engine-specific max_by/arg_max tie rules
    are not. Emits per conflicted subject the fused object, its vote
    weight, and whether round 2 CHANGED the answer vs round 1's min
    rule — the rows a curator audits.

    Scale shape: two map-side-combinable rollups (source scores are
    5-row; votes are per-(subj, obj) bounded by claim multiplicity) +
    one broadcast of the source-score table; the final argmax is one
    groupBy over vote rows. No window over raw claims."""
    cust = _t(spark, sf, "customer")
    base = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
        F.lit("src_a").alias("source"),
    )
    extra2 = cust.filter(F.col("c_custkey") % CONFLICT_MOD_2 == 3).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", (F.col("c_nationkey") + 1) % 25).alias("obj"),
        F.lit("src_b").alias("source"),
    )
    extra3 = cust.filter(F.col("c_custkey") % CONFLICT_MOD_3 == 3).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        iri("nat", (F.col("c_nationkey") + 2) % 25).alias("obj"),
        F.lit("src_c").alias("source"),
    )
    claims = base.unionByName(extra2).unionByName(extra3)
    # round 1: min-object resolution + per-source agreement ppm
    res1 = claims.groupBy("subj").agg(F.min("obj").alias("res1"))
    scored = claims.join(res1, "subj").select(
        "source",
        (F.col("obj") == F.col("res1")).cast("bigint").alias("agree"),
    )
    weights = scored.groupBy("source").agg(
        (
            (F.lit(1_000_000) * F.sum("agree")
             - F.pmod(F.lit(1_000_000) * F.sum("agree"),
                      F.count(F.lit(1))))
            / F.count(F.lit(1))
        ).cast("bigint").alias("w")
    )
    # round 2: weighted votes per (subj, obj); argmax (weight desc, obj asc)
    votes = (
        claims.join(F.broadcast(weights), "source")
        .groupBy("subj", "obj")
        .agg(F.sum("w").alias("vote"))
    )
    best = votes.groupBy("subj").agg(F.max("vote").alias("best_vote"))
    fused = (
        votes.join(best, "subj")
        .filter(F.col("vote") == F.col("best_vote"))
        .groupBy("subj")
        .agg(F.min("obj").alias("fused_obj"),
             F.max("vote").alias("vote_ppm"))
    )
    n_objs = claims.groupBy("subj").agg(
        F.countDistinct("obj").alias("n_objs"))
    return (
        fused.join(res1, "subj").join(n_objs, "subj")
        .filter(F.col("n_objs") > 1)
        .select(
            "subj", "fused_obj", "vote_ppm",
            (F.col("fused_obj") != F.col("res1")).cast("int")
            .alias("changed_vs_round1"),
        )
    )


def kg_fusion_sql() -> str:
    s = f"'<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>'"

    def o(shift: int) -> str:
        if shift == 0:
            return f"'<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>'"
        return (f"'<{BASE_E}nat:' || CAST((c_nationkey + {shift}) % 25"
                f" AS VARCHAR) || '>'")

    return f"""
      WITH claims AS MATERIALIZED (
        SELECT {s} AS subj, {o(0)} AS obj, 'src_a' AS source FROM customer
        UNION ALL
        SELECT {s}, {o(1)}, 'src_b' FROM customer
        WHERE c_custkey % {CONFLICT_MOD_2} = 3
        UNION ALL
        SELECT {s}, {o(2)}, 'src_c' FROM customer
        WHERE c_custkey % {CONFLICT_MOD_3} = 3),
      res1 AS MATERIALIZED (
        SELECT subj, min(obj) AS res1 FROM claims GROUP BY subj),
      sc AS (
        SELECT source,
               CASE WHEN c.obj = r.res1 THEN 1 ELSE 0 END AS agree
        FROM claims c JOIN res1 r USING (subj)),
      weights AS (
        SELECT source,
               CAST((1000000 * sum(agree)
                     - ((1000000 * sum(agree)) % count(*) + count(*))
                       % count(*)) / count(*) AS BIGINT) AS w
        FROM sc GROUP BY source),
      votes AS (
        SELECT subj, obj, CAST(sum(w) AS BIGINT) AS vote
        FROM claims JOIN weights USING (source)
        GROUP BY subj, obj),
      best AS (SELECT subj, max(vote) AS best_vote FROM votes GROUP BY subj),
      fused AS (
        SELECT v.subj, min(v.obj) AS fused_obj, max(v.vote) AS vote_ppm
        FROM votes v JOIN best b
          ON b.subj = v.subj AND v.vote = b.best_vote
        GROUP BY v.subj),
      no AS (
        SELECT subj, count(DISTINCT obj) AS n_objs
        FROM claims GROUP BY subj)
      SELECT f.subj, f.fused_obj, f.vote_ppm,
             CAST(f.fused_obj <> r.res1 AS INT) AS changed_vs_round1
      FROM fused f JOIN res1 r USING (subj) JOIN no USING (subj)
      WHERE no.n_objs > 1
    """


BASE_C = "urn:kg:c:"   # class IRI prefix (rdfs:subClassOf hierarchy)
WORLD_CLS = f"<{BASE_C}World>"
XSD_INT = "<http://www.w3.org/2001/XMLSchema#integer>"

# sparsification stride for the RDF-star annotation export key
RDFSTAR_PART_MOD = 53


def cls_iri(kind: str, key: Column) -> Column:
    """`<urn:kg:c:{kind}:{key}>` — class IRI from a typed key column."""
    return F.concat(F.lit(f"<{BASE_C}{kind}:"), key.cast("string"), F.lit(">"))


def subclass_closure(subclass: DataFrame, max_iters: int = 16) -> DataFrame:
    """Transitive closure of an rdfs:subClassOf DAG (rdfs11) by path
    doubling: closed_{k+1} = closed_k ∪ (closed_k ∘ closed_k), so a
    depth-d hierarchy converges in ceil(log2 d) rounds — the 16-round cap
    covers depth 65536, far past any real ontology. Everything here runs
    in ONTOLOGY space (classes, not instances): the inputs and outputs are
    model-sized, the per-round count() fixpoint probe is cheap, and the
    per-round localCheckpoint truncates the doubling lineage exactly like
    the graph iteratives. A subClassOf CYCLE saturates to full mutual
    reachability (every class in the cycle ⊑ every other) — still a
    fixpoint, pytest-pinned, so cyclic ontologies degrade to the
    RDFS-correct equivalence rather than hanging; the cap only fires on
    a hierarchy deeper than 2^max_iters, where it raises rather than
    silently truncating the entailment."""
    closed = subclass.select("sub", "sup").distinct().localCheckpoint()
    n = closed.count()
    for _ in range(max_iters):
        hop = (
            closed.alias("a")
            .join(closed.alias("b"), F.col("a.sup") == F.col("b.sub"))
            .select(F.col("a.sub").alias("sub"), F.col("b.sup").alias("sup"))
        )
        closed = closed.unionByName(hop).distinct().localCheckpoint()
        n2 = closed.count()
        if n2 == n:
            return closed
        n = n2
    raise ValueError(f"subclass closure did not converge in {max_iters} rounds"
                     " (cycle in subClassOf?)")


def rdfs_infer_types(types: DataFrame, subclass: DataFrame) -> DataFrame:
    """RDFS type entailment (rdfs9 over the rdfs11-closed hierarchy):
    (inst type C) ∧ (C ⊑* D) → (inst type D), keeping asserted types via
    the reflexive closure. The 100-TB shape is the point: the closure is
    computed purely in ontology space (model-sized), then the instance
    table — the only thing that is web-scale — joins ONCE against the
    broadcast reflexive closure and re-aggregates. Zero instance-side
    iteration, one broadcast hash join, one shuffle for the final
    distinct (RDF set semantics: entailment may re-derive an asserted
    type)."""
    closed = subclass_closure(subclass)
    classes = (
        closed.select(F.col("sub").alias("c"))
        .unionByName(closed.select(F.col("sup").alias("c")))
        .distinct()
    )
    reflexive = classes.select(F.col("c").alias("sub"), F.col("c").alias("sup"))
    full = closed.unionByName(reflexive)
    return (
        types.join(F.broadcast(full), types["cls"] == full["sub"])
        .select(types["inst"], full["sup"].alias("cls"))
        .distinct()
    )


def kg_rdfs_closure(spark: SparkSession, sf: str) -> DataFrame:
    """RDFS entailment over the nation ⊑ region ⊑ World class tree:
    customers and suppliers are asserted into their nation class only;
    the closure must materialize their region and World memberships.
    Output is the per-class instance census split by instance kind — 31
    classes whose counts pin both the closure (region rows == sum of
    member nations) and the reflexive keep (nation rows survive)."""
    nat = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    sub = (
        nat.select(cls_iri("nat", F.col("n_nationkey")).alias("sub"),
                   cls_iri("reg", F.col("n_regionkey")).alias("sup"))
        .unionByName(nat.select(
            cls_iri("reg", F.col("n_regionkey")).alias("sub"),
            F.lit(WORLD_CLS).alias("sup")))
        .distinct()
    )
    types = (
        cust.select(iri("cust", F.col("c_custkey")).alias("inst"),
                    cls_iri("nat", F.col("c_nationkey")).alias("cls"))
        .unionByName(supp.select(
            iri("supp", F.col("s_suppkey")).alias("inst"),
            cls_iri("nat", F.col("s_nationkey")).alias("cls")))
    )
    inferred = rdfs_infer_types(types, sub)
    is_cust = F.col("inst").startswith(f"<{BASE_E}cust:")
    return (
        inferred.groupBy("cls").agg(
            F.count(F.lit(1)).alias("n_inst"),
            F.sum(is_cust.cast("long")).alias("n_cust"),
            F.sum((~is_cust).cast("long")).alias("n_supp"),
        )
        .orderBy("cls")
    )


def kg_rdfs_closure_sql() -> str:
    return f"""
      WITH RECURSIVE
      sub AS (
        SELECT DISTINCT
               '<{BASE_C}nat:' || CAST(n_nationkey AS VARCHAR) || '>' AS sub,
               '<{BASE_C}reg:' || CAST(n_regionkey AS VARCHAR) || '>' AS sup
        FROM nation
        UNION
        SELECT DISTINCT
               '<{BASE_C}reg:' || CAST(n_regionkey AS VARCHAR) || '>',
               '{WORLD_CLS}'
        FROM nation),
      tc AS (
        SELECT sub, sup FROM sub
        UNION
        SELECT tc.sub, s.sup FROM tc JOIN sub s ON tc.sup = s.sub),
      cls AS (
        SELECT DISTINCT sub AS c FROM sub
        UNION SELECT DISTINCT sup FROM sub),
      full_cl AS (
        SELECT sub, sup FROM tc
        UNION SELECT c, c FROM cls),
      types AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS inst,
               '<{BASE_C}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS cls
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}supp:' || CAST(s_suppkey AS VARCHAR) || '>',
               '<{BASE_C}nat:' || CAST(s_nationkey AS VARCHAR) || '>'
        FROM supplier),
      inf AS (
        SELECT DISTINCT t.inst, f.sup AS cls
        FROM types t JOIN full_cl f ON t.cls = f.sub)
      SELECT cls,
             CAST(count(*) AS BIGINT) AS n_inst,
             CAST(sum(CASE WHEN inst LIKE '<{BASE_E}cust:%' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cust,
             CAST(sum(CASE WHEN inst LIKE '<{BASE_E}cust:%' THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_supp
      FROM inf GROUP BY cls ORDER BY cls
    """


PATH_MAX_HOPS = 4  # gate bound for the Kleene-plus key (power of two)


# OWL 2 RL inverseOf / symmetric-property entailment: the rule family
# beside RDFS subclass closure. Ontology: in_nation inverseOf
# has_citizen, in_region inverseOf contains_nation, adjacent_to
# inverseOf itself (symmetric). Planted asymmetric adjacency (only the
# lower-key direction asserted) makes the symmetric arm non-vacuous,
# and a deliberately pre-asserted inverse (both directions of one pair)
# makes the dedup arm non-vacuous.
OWL_INVERSES = {
    "in_nation": "has_citizen",
    "in_region": "contains_nation",
    "adjacent_to": "adjacent_to",
}


def owl_inverse_closure(
    triples: DataFrame, inverses: dict[str, str] | None = None
) -> DataFrame:
    """(subj, pred, obj) ∪ {(obj, inv(pred), subj)} for every pred with
    a declared inverse, deduplicated — one broadcast map lookup + one
    union + one distinct; rule application is a single pass (inverse of
    the inverse is the original, so the closure converges in one step,
    unlike subclass chains). Output carries `asserted` = whether the
    row existed before entailment (max over the union, so a triple both
    asserted and entailed reads asserted=1). `inverses` defaults to the
    gate ontology; kg_tools --op entail passes a (pred, ipred) table."""
    inverses = OWL_INVERSES if inverses is None else inverses
    inv = F.create_map(
        *[F.lit(x) for kv in inverses.items() for x in kv]
    )[F.col("pred")]
    fwd = triples.select("subj", "pred", "obj", F.lit(1).alias("asserted"))
    ent = (
        triples.withColumn("ipred", inv)
        .filter(F.col("ipred").isNotNull())
        .select(
            F.col("obj").alias("subj"),
            F.col("ipred").alias("pred"),
            F.col("subj").alias("obj"),
            F.lit(0).alias("asserted"),
        )
    )
    return (
        fwd.unionByName(ent)
        .groupBy("subj", "pred", "obj")
        .agg(F.max("asserted").cast("int").alias("asserted"))
    )


def kg_owl_inverse(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: the inverse closure over a deterministic slice —
    customer in_nation, nation in_region, and a planted adjacent_to ring
    over nations asserted in the lower-key direction only (plus ONE
    pre-asserted reverse edge to exercise dedup). The census output
    (per-pred asserted/entailed counts) pins the swap, the symmetric
    arm, and the dedup under the value hash; full-row equivalence rides
    the same grouping."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    t = (
        cust.select(
            iri("cust", F.col("c_custkey")).alias("subj"),
            F.lit("in_nation").alias("pred"),
            iri("nat", F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(nat.select(
            iri("nat", F.col("n_nationkey")).alias("subj"),
            F.lit("in_region").alias("pred"),
            iri("reg", F.col("n_regionkey")).alias("obj"),
        ))
        # adjacency ring: nation k adjacent_to nation (k+1) mod 25,
        # asserted one way; nation 0's reverse edge pre-asserted too
        .unionByName(nat.select(
            iri("nat", F.col("n_nationkey")).alias("subj"),
            F.lit("adjacent_to").alias("pred"),
            iri("nat", (F.col("n_nationkey") + 1) % 25).alias("obj"),
        ))
        .unionByName(nat.filter(F.col("n_nationkey") == 0).select(
            iri("nat", F.lit(1)).alias("subj"),
            F.lit("adjacent_to").alias("pred"),
            iri("nat", F.lit(0)).alias("obj"),
        ))
    )
    closed = owl_inverse_closure(t)
    return closed.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.sum("asserted").cast("long").alias("n_asserted"),
        F.sum(1 - F.col("asserted")).cast("long").alias("n_entailed"),
        F.countDistinct("subj").alias("n_subjects"),
    )


def kg_owl_inverse_sql() -> str:
    inv_case = " ".join(
        f"WHEN '{p}' THEN '{q}'" for p, q in OWL_INVERSES.items()
    )
    return f"""
      WITH t AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               'in_nation' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               'in_region',
               '<{BASE_E}reg:' || CAST(n_regionkey AS VARCHAR) || '>'
        FROM nation
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               'adjacent_to',
               '<{BASE_E}nat:' || CAST((n_nationkey + 1) % 25 AS VARCHAR)
                 || '>'
        FROM nation
        UNION ALL
        SELECT '<{BASE_E}nat:1>', 'adjacent_to', '<{BASE_E}nat:0>'
        FROM nation WHERE n_nationkey = 0),
      closed AS (
        SELECT subj, pred, obj, CAST(max(asserted) AS INT) AS asserted
        FROM (
          SELECT subj, pred, obj, 1 AS asserted FROM t
          UNION ALL
          SELECT obj, CASE pred {inv_case} END, subj, 0
          FROM t WHERE (CASE pred {inv_case} END) IS NOT NULL)
        GROUP BY subj, pred, obj)
      SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
             CAST(sum(asserted) AS BIGINT) AS n_asserted,
             CAST(sum(1 - asserted) AS BIGINT) AS n_entailed,
             CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects
      FROM closed GROUP BY pred
    """


def property_path(edges: DataFrame, max_hops: int = PATH_MAX_HOPS) -> DataFrame:
    """Bounded SPARQL property path `p+`: all (src, dst, min_hops) pairs
    reachable via 1..max_hops repetitions of one predicate's edges — the
    query shape behind `?x knows+ ?y` / category ancestors / redirect
    chains. Min-plus path DOUBLING (Rₖ₊₁ = min-merge(Rₖ, Rₖ∘Rₖ)), so
    ceil(log2(max_hops)) rounds instead of max_hops chain joins; each
    round filters hops ≤ max_hops BEFORE the merge so intermediate
    products never outgrow the answer, and localCheckpoint truncates the
    doubling lineage (the graph_scc discipline). min() over hop sums is
    exact — no floats anywhere."""
    import math

    rounds = max(1, math.ceil(math.log2(max_hops)))
    r = (
        edges.select("src", "dst").distinct()
        .withColumn("hops", F.lit(1).cast("bigint"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        comp = (
            r.alias("a")
            .join(r.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(
                F.col("a.src").alias("src"), F.col("b.dst").alias("dst"),
                (F.col("a.hops") + F.col("b.hops")).alias("hops"),
            )
            .filter(F.col("hops") <= max_hops)
        )
        r = (
            r.unionByName(comp)
            .groupBy("src", "dst")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint()
        )
    return r


def kg_property_path(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: `next_order+` over the per-customer reorder chain (each
    order points at the customer's next order by date) — per hop count,
    how many (earlier, later) order pairs are within that many chain
    steps, and how many distinct start orders have one. The chain is built
    by ONE lead window; the closure must then discover pairs at hop 2, 3,
    4 that no single edge asserts, and min-hops must pick the direct edge
    over any longer route. The DuckDB oracle is a genuine WITH RECURSIVE —
    cross-engine closure semantics, not an unrolled mirror."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    succ = (
        o.select(
            F.col("o_orderkey").alias("src"),
            F.lead("o_orderkey").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    reach = property_path(succ, PATH_MAX_HOPS)
    return (
        reach.groupBy("hops")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("src").alias("n_src"),
        )
        .orderBy("hops")
    )


def kg_property_path_sql() -> str:
    return f"""
      WITH RECURSIVE
      succ AS (
        SELECT o_orderkey AS src,
               lead(o_orderkey) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS dst
        FROM orders),
      e AS (SELECT src, dst FROM succ WHERE dst IS NOT NULL),
      reach(src, dst, hops) AS (
        SELECT src, dst, 1 FROM e
        UNION
        SELECT r.src, e.dst, r.hops + 1
        FROM reach r JOIN e ON e.src = r.dst
        WHERE r.hops < {PATH_MAX_HOPS}),
      mn AS (
        SELECT src, dst, CAST(min(hops) AS BIGINT) AS hops
        FROM reach GROUP BY src, dst)
      SELECT hops, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT src) AS BIGINT) AS n_src
      FROM mn GROUP BY hops ORDER BY hops
    """


def bgp_star(triples: DataFrame, preds: list[str]) -> DataFrame:
    """Star-shaped BGP `?x p1 ?v1 . ?x p2 ?v2 . …` — the other canonical
    SPARQL join shape next to bgp_2hop's chain: k legs sharing the
    SUBJECT variable, returning (x, v1..vk). Each leg's pred equality
    reaches the scan as a PushedFilter (partition pruning when triples
    are PARTITIONED BY pred), and all k-1 joins are equi-joins on the
    SAME key x — Catalyst reuses one hash partitioning across the whole
    chain, so a k-leg star costs one shuffle of each leg, not k-1
    re-shuffles. Celebrity subjects ride AQE skew splits."""
    out: DataFrame | None = None
    for i, p in enumerate(preds):
        leg = triples.filter(F.col("pred") == p).select(
            F.col("subj").alias("x"), F.col("obj").alias(f"v{i + 1}")
        )
        out = leg if out is None else out.join(leg, "x")
    assert out is not None, "bgp_star needs at least one predicate"
    return out


def kg_bgp_star(spark: SparkSession, sf: str) -> DataFrame:
    """3-leg star over customer triples: `?c in_nation ?n . ?c in_segment
    ?s . ?c acct_band ?b`, rolled up to the (nation, segment, band)
    census. A fourth `label` predicate shares the triple table but never
    reaches any join — the pruning certificate, same trick as
    kg_bgp_2hop."""
    cust = _t(spark, sf, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(2500)).cast("long")
    triples = (
        cust.select(
            iri("cust", F.col("c_custkey")).alias("subj"),
            F.lit("in_nation").alias("pred"),
            iri("nat", F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(cust.select(
            iri("cust", F.col("c_custkey")).alias("subj"),
            F.lit("in_segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"),
        ))
        .unionByName(cust.select(
            iri("cust", F.col("c_custkey")).alias("subj"),
            F.lit("acct_band").alias("pred"),
            band.cast("string").alias("obj"),
        ))
        .unionByName(cust.select(
            iri("cust", F.col("c_custkey")).alias("subj"),
            F.lit("label").alias("pred"),
            F.col("c_name").alias("obj"),
        ))
    )
    stars = bgp_star(triples, ["in_nation", "in_segment", "acct_band"])
    return (
        stars.groupBy(
            F.col("v1").alias("nat"),
            F.col("v2").alias("segment"),
            F.col("v3").alias("band"),
        )
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy("nat", "segment", "band")
    )


def kg_bgp_star_sql() -> str:
    return f"""
      WITH triples AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               'in_nation' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>',
               'in_segment', c_mktsegment
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>',
               'acct_band', CAST(CAST(floor(c_acctbal / 2500) AS BIGINT)
                                 AS VARCHAR)
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>',
               'label', c_name
        FROM customer),
      l1 AS (SELECT subj AS x, obj AS v1 FROM triples WHERE pred = 'in_nation'),
      l2 AS (SELECT subj AS x, obj AS v2 FROM triples WHERE pred = 'in_segment'),
      l3 AS (SELECT subj AS x, obj AS v3 FROM triples WHERE pred = 'acct_band')
      SELECT l1.v1 AS nat, l2.v2 AS segment, l3.v3 AS band,
             CAST(count(*) AS BIGINT) AS n_cust
      FROM l1 JOIN l2 ON l1.x = l2.x JOIN l3 ON l1.x = l3.x
      GROUP BY 1, 2, 3 ORDER BY nat, segment, band
    """


def to_rdfstar(
    annotated: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    apred: str = "apred",
    aval: str = "aval",
    aval_dtype: str = XSD_INT,
) -> DataFrame:
    """RDF-star annotation serialization: one `<< s p o >> ap "v"^^dt .`
    line per row — the quoted-triple surface for statement-level metadata
    (support counts, confidence, provenance weight) that N-Quads (X13)
    expresses per-graph and plain reification would explode to 4 triples.
    Pure projection like to_ntriples: no shuffle, no Python, output
    partitioning == input partitioning; the annotation value renders as a
    typed literal so consumers round-trip it losslessly."""
    s, p, o = F.col(subj), F.col(pred), F.col(obj)
    line = F.concat(
        F.lit("<< "), s, F.lit(" "), p, F.lit(" "), o, F.lit(" >> "),
        F.col(apred), F.lit(' "'), escape_literal(F.col(aval).cast("string")),
        F.lit(f'"^^{aval_dtype} .'),
    )
    return annotated.select(s.alias("subj"), line.alias("line"))


def kg_rdfstar(spark: SparkSession, sf: str) -> DataFrame:
    """RDF-star export of (supplier, supplies, part) triples annotated
    with their lineitem support count — the statement-confidence surface
    a fusion pipeline (kg_fusion) publishes. Sparsified by part-key
    stride so the exported sample stays export-shaped at any sf; the
    support agg is map-side combinable and the serialization is a pure
    projection on top of it."""
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_partkey") % RDFSTAR_PART_MOD == 0
    )
    ann = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("support"))
        .select(
            iri("supp", F.col("l_suppkey")).alias("subj"),
            F.lit(f"<{BASE_P}supplies>").alias("pred"),
            iri("part", F.col("l_partkey")).alias("obj"),
            F.lit(f"<{BASE_P}support>").alias("apred"),
            F.col("support").alias("aval"),
        )
    )
    return to_rdfstar(ann)


def kg_rdfstar_sql() -> str:
    return f"""
      WITH ann AS (
        SELECT l_suppkey, l_partkey, count(*) AS support
        FROM lineitem
        WHERE l_partkey % {RDFSTAR_PART_MOD} = 0
        GROUP BY l_suppkey, l_partkey)
      SELECT '<{BASE_E}supp:' || CAST(l_suppkey AS VARCHAR) || '>' AS subj,
             '<< ' || '<{BASE_E}supp:' || CAST(l_suppkey AS VARCHAR) || '>'
             || ' <{BASE_P}supplies> '
             || '<{BASE_E}part:' || CAST(l_partkey AS VARCHAR) || '>'
             || ' >> <{BASE_P}support> "' || CAST(support AS VARCHAR)
             || '"^^{XSD_INT} .' AS line
      FROM ann
    """


def bgp_optional(
    triples: DataFrame, required_pred: str, optional_pred: str
) -> DataFrame:
    """SPARQL OPTIONAL — `?x req ?v . OPTIONAL { ?x opt ?w }` compiles to
    a LEFT OUTER join of the two pred-filtered legs on the shared
    subject: rows where the optional pattern has no match survive with
    w = NULL (SPARQL's unbound), never drop. This is the algebra's
    LeftJoin operator; both pred equalities reach the scan as
    PushedFilters (partition pruning under PARTITIONED BY pred)."""
    req = triples.filter(F.col("pred") == required_pred).select(
        F.col("subj").alias("x"), F.col("obj").alias("v")
    )
    opt = triples.filter(F.col("pred") == optional_pred).select(
        F.col("subj").alias("x"), F.col("obj").alias("w")
    )
    return req.join(opt, "x", "left")


def bgp_not_exists(
    triples: DataFrame, required_pred: str, absent_pred: str
) -> DataFrame:
    """SPARQL FILTER NOT EXISTS — `?x req ?v . FILTER NOT EXISTS
    { ?x absent ?y }` compiles to a LEFT ANTI join of the required leg
    against the (distinct-subject) absent leg: the negation-as-failure
    operator, the shape of every blocklist / already-processed /
    missing-property query. ANTI (not a null-filtered outer join) keeps
    the build side subject-distinct and never widens the output."""
    req = triples.filter(F.col("pred") == required_pred).select(
        F.col("subj").alias("x"), F.col("obj").alias("v")
    )
    absent = triples.filter(F.col("pred") == absent_pred).select(
        F.col("subj").alias("x")
    )
    return req.join(absent, "x", "left_anti")


BGP_FLAG_MOD = 7  # 1-in-7 customers carry the `flagged` triple


def _bgp_customer_triples(spark: SparkSession, sf: str) -> DataFrame:
    """Shared triple table for the OPTIONAL / NOT EXISTS keys:
    `in_nation` for every customer, `acct_band` only for nonnegative
    balances (the optional leg's genuinely-missing rows), `flagged` for
    every 7th customer (the negation leg), plus a `label` pred that
    never reaches any join — the pruning certificate (kg_bgp_star
    trick)."""
    cust = _t(spark, sf, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(2500)).cast("long")
    subj = iri("cust", F.col("c_custkey"))
    return (
        cust.select(
            subj.alias("subj"),
            F.lit("in_nation").alias("pred"),
            iri("nat", F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(
            cust.filter(F.col("c_acctbal") >= 0).select(
                subj.alias("subj"),
                F.lit("acct_band").alias("pred"),
                band.cast("string").alias("obj"),
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % BGP_FLAG_MOD == 0).select(
                subj.alias("subj"),
                F.lit("flagged").alias("pred"),
                F.lit("true").alias("obj"),
            )
        )
        .unionByName(
            cust.select(
                subj.alias("subj"),
                F.lit("label").alias("pred"),
                F.col("c_name").alias("obj"),
            )
        )
    )


_BGP_TRIPLES_CTE = f"""triples AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               'in_nation' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>',
               'acct_band',
               CAST(CAST(floor(c_acctbal / 2500) AS BIGINT) AS VARCHAR)
        FROM customer WHERE c_acctbal >= 0
        UNION ALL
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>',
               'flagged', 'true'
        FROM customer WHERE c_custkey % {BGP_FLAG_MOD} = 0
        UNION ALL
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>',
               'label', c_name
        FROM customer)"""


def kg_bgp_optional(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: OPTIONAL over customer triples — nation census split by
    (possibly unbound) account band. Negative-balance customers carry no
    acct_band triple, so the NULL-band rows in the census are live at
    every gate SF: a LeftJoin that degenerates to inner certifies
    nothing (the join_full lesson). Unbound band is emitted RAW (not
    coalesced) so the value hash certifies SPARQL's unbound semantics."""
    triples = _bgp_customer_triples(spark, sf)
    rows = bgp_optional(triples, "in_nation", "acct_band")
    return (
        rows.groupBy(F.col("v").alias("nat"), F.col("w").alias("band"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy(F.col("nat"), F.col("band").asc_nulls_first())
    )


def kg_bgp_optional_sql() -> str:
    return f"""
      WITH {_BGP_TRIPLES_CTE},
      req AS (SELECT subj AS x, obj AS v FROM triples
              WHERE pred = 'in_nation'),
      opt AS (SELECT subj AS x, obj AS w FROM triples
              WHERE pred = 'acct_band')
      SELECT req.v AS nat, opt.w AS band,
             CAST(count(*) AS BIGINT) AS n_cust
      FROM req LEFT JOIN opt ON req.x = opt.x
      GROUP BY 1, 2 ORDER BY nat, band NULLS FIRST
    """


def kg_bgp_negation(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: FILTER NOT EXISTS over customer triples — per-nation
    census of customers WITHOUT the `flagged` triple. n_clean is a
    strict subset count (flag mod plants 1-in-7 flagged), so an anti
    join that silently behaved as semi or inner flips the hash."""
    triples = _bgp_customer_triples(spark, sf)
    rows = bgp_not_exists(triples, "in_nation", "flagged")
    return (
        rows.groupBy(F.col("v").alias("nat"))
        .agg(F.count(F.lit(1)).alias("n_clean"))
        .orderBy("nat")
    )


def kg_bgp_negation_sql() -> str:
    return f"""
      WITH {_BGP_TRIPLES_CTE},
      req AS (SELECT subj AS x, obj AS v FROM triples
              WHERE pred = 'in_nation'),
      flg AS (SELECT subj AS x FROM triples WHERE pred = 'flagged')
      SELECT req.v AS nat, CAST(count(*) AS BIGINT) AS n_clean
      FROM req ANTI JOIN flg ON req.x = flg.x
      GROUP BY 1 ORDER BY nat
    """


def kg_bgp_union(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: SPARQL UNION — `{ ?x acct_band ?v } UNION { ?x flagged
    ?v }` is a MULTISET union of the two pattern solutions (no dedup:
    a subject matching both patterns contributes both rows — the
    census's n > n_distinct subjects certifies bag semantics). With
    join (bgp_star/2hop), OPTIONAL, NOT EXISTS, property path and this,
    the engine covers the full SPARQL 1.1 algebra core.

    Scale shape: unionByName is a zero-shuffle plan concatenation; the
    only shuffle is the census rollup, and both pred filters reach the
    scan."""
    triples = _bgp_customer_triples(spark, sf)
    leg1 = triples.filter(F.col("pred") == "acct_band").select(
        "subj", F.col("obj").alias("v")
    )
    leg2 = triples.filter(F.col("pred") == "flagged").select(
        "subj", F.col("obj").alias("v")
    )
    both = leg1.unionByName(leg2)
    return (
        both.groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("n_solutions"),
            F.countDistinct("subj").alias("n_subjects"),
        )
        .orderBy("v")
    )


def kg_bgp_union_sql() -> str:
    return f"""
      WITH {_BGP_TRIPLES_CTE},
      legs AS (
        SELECT subj, obj AS v FROM triples WHERE pred = 'acct_band'
        UNION ALL
        SELECT subj, obj AS v FROM triples WHERE pred = 'flagged')
      SELECT v, CAST(count(*) AS BIGINT) AS n_solutions,
             CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects
      FROM legs GROUP BY v ORDER BY v
    """


CASCADE_DEL_MOD = 4  # nation pages with n_nationkey % 4 == 1 are deleted


def cascade_delete(
    triples: DataFrame, deleted_urls: DataFrame
) -> DataFrame:
    """GDPR/takedown deletion propagation: drop every triple whose
    provenance url is in the deletion set (LEFT ANTI on url — the
    deletion set is a table, never a broadcast IN-list, because legal
    holds grow unboundedly), returning the surviving triples. Node-level
    cascade is a CONSEQUENCE, not a step: a node is orphaned exactly
    when no surviving triple mentions it — materialize nodes from the
    survivors (the house nodes/edges discipline) and orphans disappear
    without ever being enumerated."""
    return triples.join(deleted_urls, "url", "left_anti")


def kg_cascade_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: takedown cascade over provenance-carrying claims. Each
    customer's in_nation claim cites its nation's page (url = page per
    nation), every 4th-plus-1 nation page is taken down; the census
    certifies BOTH directions — deleted nations survive with n_after=0 /
    orphaned=1 (the nation NODE has lost every mention), kept nations
    with n_after == n_before / orphaned=0. The all-nations left join is
    what makes zero-survivor groups visible at all: a groupBy of the
    survivors alone silently omits exactly the rows the audit is about."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    claims = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        F.lit("in_nation").alias("pred"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
        F.concat(
            F.lit("https://ex.org/nation/"), F.col("c_nationkey")
        ).alias("url"),
    )
    deleted = nat.filter(
        F.col("n_nationkey") % CASCADE_DEL_MOD == 1
    ).select(
        F.concat(
            F.lit("https://ex.org/nation/"), F.col("n_nationkey")
        ).alias("url")
    )
    before = claims.groupBy("obj").agg(
        F.count(F.lit(1)).alias("n_before"))
    after = (
        cascade_delete(claims, deleted)
        .groupBy("obj")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    allnat = nat.select(iri("nat", F.col("n_nationkey")).alias("obj"))
    return (
        allnat.join(before, "obj", "left")
        .join(after, "obj", "left")
        .select(
            "obj",
            F.coalesce("n_before", F.lit(0)).cast("bigint")
            .alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            F.when(F.coalesce("n_after", F.lit(0)) == 0, F.lit(1))
            .otherwise(F.lit(0)).alias("orphaned"),
        )
        .orderBy("obj")
    )


def kg_cascade_delete_sql() -> str:
    return f"""
      WITH claims AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj,
               'https://ex.org/nation/' || CAST(c_nationkey AS VARCHAR)
                 AS url
        FROM customer),
      deleted AS (
        SELECT 'https://ex.org/nation/' || CAST(n_nationkey AS VARCHAR)
                 AS url
        FROM nation WHERE n_nationkey % {CASCADE_DEL_MOD} = 1),
      survivors AS (
        SELECT c.* FROM claims c ANTI JOIN deleted d ON c.url = d.url),
      b AS (SELECT obj, CAST(count(*) AS BIGINT) AS n_before
            FROM claims GROUP BY obj),
      a AS (SELECT obj, CAST(count(*) AS BIGINT) AS n_after
            FROM survivors GROUP BY obj)
      SELECT n.obj, COALESCE(b.n_before, 0) AS n_before,
             COALESCE(a.n_after, 0) AS n_after,
             CASE WHEN COALESCE(a.n_after, 0) = 0 THEN 1 ELSE 0 END
               AS orphaned
      FROM (SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>'
              AS obj FROM nation) n
      LEFT JOIN b ON b.obj = n.obj
      LEFT JOIN a ON a.obj = n.obj
      ORDER BY n.obj
    """


# -------------------------------------------------- VoID dataset stats --


def kg_void_stats(spark: SparkSession, sf: str) -> DataFrame:
    """VoID-style property-partition statistics (the W3C VoID vocabulary:
    void:triples / void:distinctSubjects / void:distinctObjects per
    property partition) over a 3-predicate KG slice — the dataset
    descriptor every published KG ships and every query planner reads
    before choosing a join order. One union of key-projected scans, one
    groupBy(pred) with two distinct-counts; at 10^12 triples the stats
    table is |predicates| rows and the distinct-counts are the standard
    two-level partial aggs (count_distinct rewrites to a per-(pred,key)
    pre-aggregation, map-side combined)."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    sup = _t(spark, sf, "supplier")
    t = (
        cust.select(
            iri("cust", F.col("c_custkey")).alias("subj"),
            F.lit("in_nation").alias("pred"),
            iri("nat", F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(sup.select(
            iri("sup", F.col("s_suppkey")).alias("subj"),
            F.lit("in_nation").alias("pred"),
            iri("nat", F.col("s_nationkey")).alias("obj"),
        ))
        .unionByName(nat.select(
            iri("nat", F.col("n_nationkey")).alias("subj"),
            F.lit("in_region").alias("pred"),
            iri("reg", F.col("n_regionkey")).alias("obj"),
        ))
    )
    return t.groupBy("pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triples"),
        F.count_distinct("subj").cast("bigint").alias("n_subj"),
        F.count_distinct("obj").cast("bigint").alias("n_obj"),
    )


def kg_void_stats_sql() -> str:
    return f"""
      WITH t AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
               'in_nation' AS pred,
               '<{BASE_E}nat:' || CAST(c_nationkey AS VARCHAR) || '>' AS obj
        FROM customer
        UNION ALL
        SELECT '<{BASE_E}sup:' || CAST(s_suppkey AS VARCHAR) || '>',
               'in_nation',
               '<{BASE_E}nat:' || CAST(s_nationkey AS VARCHAR) || '>'
        FROM supplier
        UNION ALL
        SELECT '<{BASE_E}nat:' || CAST(n_nationkey AS VARCHAR) || '>',
               'in_region',
               '<{BASE_E}reg:' || CAST(n_regionkey AS VARCHAR) || '>'
        FROM nation)
      SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
             CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
             CAST(count(DISTINCT obj) AS BIGINT) AS n_obj
      FROM t GROUP BY pred
    """


# ---------------------------------------- SHACL cardinality validation --

SHACL_DROP_MOD = 41  # plant a missing in_nation every 41st customer
SHACL_DUP_MOD = 37   # plant a duplicate in_nation every 37th customer


def shacl_cardinality(
    subjects: DataFrame, triples: DataFrame, constraints: DataFrame
) -> DataFrame:
    """SHACL-style sh:minCount / sh:maxCount validation: for each
    (subject, pred) in the constraint table, count the subject's
    outgoing pred-edges and report 'min' / 'max' violations. The
    subject UNIVERSE is an explicit input — a missing edge is invisible
    to any scan of the triple table itself, so minCount needs the
    entity registry (nodes table) as the left side. Left join from
    universe x constraints (both sides of that cross are
    |nodes| x |shapes|, shapes model-sized and broadcast), coalesce
    absent counts to 0; violations never shuffle data-sized rows twice
    because the per-(subj,pred) count is the only data shuffle."""
    cnt = triples.groupBy("subj", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    univ = subjects.join(F.broadcast(constraints), "styp")
    return (
        univ.join(cnt, ["subj", "pred"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0).cast("bigint")))
        .withColumn(
            "violation",
            F.when(F.col("n") < F.col("min_cnt"), F.lit("min"))
            .when(F.col("n") > F.col("max_cnt"), F.lit("max")),
        )
        .filter(F.col("violation").isNotNull())
        .select("subj", "pred", "n", "violation")
    )


def kg_shacl_card(spark: SparkSession, sf: str) -> DataFrame:
    """Gate slice for shacl_cardinality: shape = 'every customer has
    EXACTLY ONE in_nation'. Violations planted deterministically — every
    SHACL_DROP_MOD-th customer's edge is dropped (minCount arm), every
    SHACL_DUP_MOD-th gets a second nation (maxCount arm); keys hit by
    both mods keep the duplicate (drop filter applies first, so n=0
    wins) — the oracle replays the same plant order."""
    cust = _t(spark, sf, "customer")
    base = cust.filter(F.col("c_custkey") % SHACL_DROP_MOD != 0).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        F.lit("in_nation").alias("pred"),
        iri("nat", F.col("c_nationkey")).alias("obj"),
    )
    dup = cust.filter(
        (F.col("c_custkey") % SHACL_DROP_MOD != 0)
        & (F.col("c_custkey") % SHACL_DUP_MOD == 0)
    ).select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        F.lit("in_nation").alias("pred"),
        iri("nat", (F.col("c_nationkey") + 1) % 25).alias("obj"),
    )
    triples = base.unionByName(dup)
    subjects = cust.select(
        iri("cust", F.col("c_custkey")).alias("subj"),
        F.lit("cust").alias("styp"),
    )
    constraints = spark.createDataFrame(
        [("cust", "in_nation", 1, 1)],
        "styp string, pred string, min_cnt int, max_cnt int",
    )
    return shacl_cardinality(subjects, triples, constraints)


def kg_shacl_card_sql() -> str:
    return f"""
      WITH t AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj
        FROM customer WHERE c_custkey % {SHACL_DROP_MOD} != 0
        UNION ALL
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>'
        FROM customer
        WHERE c_custkey % {SHACL_DROP_MOD} != 0
          AND c_custkey % {SHACL_DUP_MOD} = 0),
      cnt AS (SELECT subj, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
      u AS (
        SELECT '<{BASE_E}cust:' || CAST(c_custkey AS VARCHAR) || '>' AS subj
        FROM customer)
      SELECT u.subj, 'in_nation' AS pred, coalesce(cnt.n, 0) AS n,
             CASE WHEN coalesce(cnt.n, 0) < 1 THEN 'min' ELSE 'max' END
               AS violation
      FROM u LEFT JOIN cnt ON cnt.subj = u.subj
      WHERE coalesce(cnt.n, 0) != 1
    """


def kgexport_queries() -> dict:
    return {
        "kg_ntriples": kg_ntriples,
        "kg_turtle": kg_turtle,
        "kg_jsonld": kg_jsonld,
        "kg_literal_norm": kg_literal_norm,
        "kg_date_norm": kg_date_norm,
        "kg_bgp_2hop": kg_bgp_2hop,
        "kg_type_check": kg_type_check,
        "kg_conflict": kg_conflict,
        "kg_source_reliability": kg_source_reliability,
        "kg_fusion": kg_fusion,
        "kg_temporal_diff": kg_temporal_diff,
        "kg_apply_delta": kg_apply_delta,
        "kg_negsample": kg_negsample,
        "kg_schema_infer": kg_schema_infer,
        "kg_rdfs_closure": kg_rdfs_closure,
        "kg_owl_inverse": kg_owl_inverse,
        "kg_bgp_star": kg_bgp_star,
        "kg_rdfstar": kg_rdfstar,
        "kg_property_path": kg_property_path,
        "kg_bgp_optional": kg_bgp_optional,
        "kg_bgp_negation": kg_bgp_negation,
        "kg_bgp_union": kg_bgp_union,
        "kg_cascade_delete": kg_cascade_delete,
        "kg_void_stats": kg_void_stats,
        "kg_shacl_card": kg_shacl_card,
    }


def kgexport_oracle_sql() -> dict[str, str]:
    return {
        "kg_conflict": kg_conflict_sql(),
        "kg_source_reliability": kg_source_reliability_sql(),
        "kg_fusion": kg_fusion_sql(),
        "kg_ntriples": kg_ntriples_sql(),
        "kg_turtle": kg_turtle_sql(),
        "kg_jsonld": kg_jsonld_sql(),
        "kg_literal_norm": kg_literal_norm_sql(),
        "kg_date_norm": kg_date_norm_sql(),
        "kg_bgp_2hop": kg_bgp_2hop_sql(),
        "kg_type_check": kg_type_check_sql(),
        "kg_temporal_diff": kg_temporal_diff_sql(),
        "kg_apply_delta": kg_apply_delta_sql(),
        "kg_negsample": kg_negsample_sql(),
        "kg_schema_infer": kg_schema_infer_sql(),
        "kg_rdfs_closure": kg_rdfs_closure_sql(),
        "kg_owl_inverse": kg_owl_inverse_sql(),
        "kg_bgp_star": kg_bgp_star_sql(),
        "kg_rdfstar": kg_rdfstar_sql(),
        "kg_property_path": kg_property_path_sql(),
        "kg_bgp_optional": kg_bgp_optional_sql(),
        "kg_bgp_negation": kg_bgp_negation_sql(),
        "kg_bgp_union": kg_bgp_union_sql(),
        "kg_cascade_delete": kg_cascade_delete_sql(),
        "kg_void_stats": kg_void_stats_sql(),
        "kg_shacl_card": kg_shacl_card_sql(),
    }
