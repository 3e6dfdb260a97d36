"""Driver-contract relational operators (SURVEY.md §2 driver keys).

Each entry: a (spark, sf_dir) → DataFrame callable over the driver's
testdata tables, plus a DuckDB-equivalent SQL string. The driver compares
row-count + schema + order-insensitive value hash at sf0.01, so:

- every computed column is aliased IDENTICALLY in both
- doubles are rounded (sum→2dp, avg/ratio→4dp) to kill engine-order ulps
- timestamps are emitted as formatted strings
- int aggregates are cast to BIGINT in SQL (DuckDB SUM(int)→HUGEINT)

These run on Spark built-ins only (JVM whole-stage codegen; zero Python in
the hot path), so Catalyst pushdown/pruning applies everywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Registry rows: name → (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple] = {}


def reg(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


def contract_queries() -> dict:
    return {name: fn for name, (fn, _sql) in _REGISTRY.items()}


def contract_oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _REGISTRY.items() if sql}


# ---------------------------------------------------------------- scans ----

@reg("scan_documents",
     "SELECT doc_id, lang, source, n_chars FROM documents")
def scan_documents(spark, sf):
    return _t(spark, sf, "documents").select("doc_id", "lang", "source", "n_chars")


# --------------------------------------------------- projections / filters --

@reg("project_select", "SELECT doc_id, lang FROM documents")
def project_select(spark, sf):
    return _t(spark, sf, "documents").select("doc_id", "lang")


@reg("filter_predicate",
     "SELECT doc_id, lang, n_chars FROM documents "
     "WHERE lang IN ('en','fr') AND n_chars > 200")
def filter_predicate(spark, sf):
    d = _t(spark, sf, "documents")
    return d.filter(F.col("lang").isin("en", "fr") & (F.col("n_chars") > 200)) \
            .select("doc_id", "lang", "n_chars")


@reg("filter_notnull",
     "SELECT doc_id FROM documents WHERE text IS NOT NULL AND length(text) > 0")
def filter_notnull(spark, sf):
    d = _t(spark, sf, "documents")
    return d.filter(F.col("text").isNotNull() & (F.length("text") > 0)) \
            .select("doc_id")


@reg("dedup_rank",
     "SELECT user_id, event_id FROM ("
     "  SELECT user_id, event_id, ROW_NUMBER() OVER ("
     "    PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events"
     ") WHERE rn = 1")
def dedup_rank(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.withColumn("rn", F.row_number().over(w)) \
            .filter("rn = 1").select("user_id", "event_id")


# ---------------------------------------------------------------- joins ----

@reg("join_broadcast",
     "SELECT n.n_name, r.r_name FROM nation n JOIN region r "
     "ON n.n_regionkey = r.r_regionkey")
def join_broadcast(spark, sf):
    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey) \
            .select("n_name", "r_name")


@reg("join_inner",
     "SELECT o.o_orderkey, c.c_name FROM orders o "
     "JOIN customer c ON o.o_custkey = c.c_custkey")
def join_inner(spark, sf):
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")


@reg("join_left",
     "SELECT c.c_custkey, n.n_name FROM customer c "
     "LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey")
def join_left(spark, sf):
    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left") \
            .select("c_custkey", "n_name")


@reg("join_semi",
     "SELECT c_custkey FROM customer WHERE c_custkey IN "
     "(SELECT o_custkey FROM orders)")
def join_semi(spark, sf):
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@reg("join_anti",
     "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
     "(SELECT o_custkey FROM orders)")
def join_anti(spark, sf):
    c, o = _t(spark, sf, "orders"), None
    cust = _t(spark, sf, "customer")
    return cust.join(c, cust.c_custkey == c.o_custkey, "left_anti") \
               .select("c_custkey")


@reg("join_range",
     "SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id "
     "FROM events a JOIN events b ON a.user_id = b.user_id "
     "AND b.event_id > a.event_id "
     "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR")
def join_range(spark, sf):
    e = _t(spark, sf, "events")
    a = e.select(F.col("user_id"), F.col("event_id").alias("a_id"),
                 F.col("ts").alias("a_ts"))
    b = e.select(F.col("user_id").alias("b_user"), F.col("event_id").alias("b_id"),
                 F.col("ts").alias("b_ts"))
    out = a.join(
        b,
        (a.user_id == b.b_user) & (F.col("b_id") > F.col("a_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return out.select("user_id", "a_id", "b_id")


@reg("join_full",
     """WITH c AS (
       SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
       FROM customer WHERE c_acctbal < -900 GROUP BY 1),
     s AS (
       SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
       FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
     SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp,
            CASE WHEN c.nk IS NULL THEN 'supplier_only'
                 WHEN s.nk IS NULL THEN 'customer_only'
                 ELSE 'both' END AS presence
     FROM c FULL JOIN s ON c.nk = s.nk""")
def join_full(spark, sf):
    """J10 FULL OUTER reconciliation join — the everyday 'which side is
    missing what' audit (two independently-produced aggregates of the
    same key space, null-completed on BOTH sides). The filters are tuned
    so sf0.01 genuinely exercises both completion directions (nations
    with deeply-negative customers but no negative suppliers AND vice
    versa) — a full join that degenerates to inner certifies nothing.
    Scale shape: both sides are post-aggregation (group-count) tables,
    so the full join runs key-partitioned on small inputs; at 10^12 rows
    the aggregation shuffles dominate and the join itself stays
    |keys|-sized. Nullable n_cust/n_supp are emitted raw (not coalesced)
    so the value hash certifies the null-completion semantics too."""
    c = (
        _t(spark, sf, "customer")
        .filter(F.col("c_acctbal") < -900)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    )
    s = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_supp"))
    )
    cn, sn = c.withColumnRenamed("nk", "c_nk"), s.withColumnRenamed("nk", "s_nk")
    return (
        cn.join(sn, cn.c_nk == sn.s_nk, "full")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            "n_cust",
            "n_supp",
            F.when(F.col("c_nk").isNull(), F.lit("supplier_only"))
            .when(F.col("s_nk").isNull(), F.lit("customer_only"))
            .otherwise(F.lit("both"))
            .alias("presence"),
        )
    )


# Deterministic Bloom filter for the runtime-filter join: k hash positions
# per key from md5 (identical hex in both engines), M bits. Spark itself
# injects this pattern as `spark.sql.optimizer.runtime.bloomFilter.enabled`
# (a BloomFilterAggregate on the build side pushed into the probe scan) —
# the explicit version here is engine-portable and hash-gate-checkable.
BLOOM_M = 4096  # bit-space size (production: ~10 bits/key, e.g. 2^27 for 10M keys)
BLOOM_K = 3     # hash functions; FP rate ≈ fill^k


def _bloom_hash(key):
    """One salted digest per key; the k bit positions are disjoint 6-hex
    (24-bit) windows of it — one md5 per probe row instead of k (the
    cheap cousin of the Kirsch–Mitzenmacher two-hash trick; 24 bits >>
    log2(M) keeps each window's mod uniform)."""
    return F.md5(F.concat(F.lit("b|"), key).cast("binary"))


def _bloom_pos(h, j: int):
    """Bit position j: hex window j of the digest → int → mod M.
    conv() and DuckDB's '0x'-cast agree exactly."""
    return (
        F.conv(F.substring(h, 6 * j + 1, 6), 16, 10).cast("long") % BLOOM_M
    )


@reg("join_bloom",
     f"""WITH bkeys AS (
       SELECT DISTINCT c_custkey AS k FROM customer
       WHERE c_mktsegment = 'BUILDING'),
     pos AS (
       SELECT ('0x' || substr(md5('b|' || CAST(k AS VARCHAR)),
                              CAST(6 * j + 1 AS INT), 6))::BIGINT
                % {BLOOM_M} AS p
       FROM bkeys, (SELECT unnest(range(0, {BLOOM_K})) AS j) js),
     bloom AS (
       SELECT array_to_string(
                list_transform(range(0, {BLOOM_M}),
                  i -> CASE WHEN list_contains(list(DISTINCT p), i)
                       THEN '1' ELSE '0' END), '') AS bitstr
       FROM pos),
     probe AS (
       SELECT o_orderkey, o_custkey,
              md5('b|' || CAST(o_custkey AS VARCHAR)) AS h
       FROM orders),
     passed AS (
       SELECT o_orderkey, o_custkey FROM probe, bloom
       WHERE {' AND '.join(
         f"substr(bitstr, CAST(('0x' || substr(h, {6 * j + 1}, 6))::BIGINT"
         f" % {BLOOM_M} + 1 AS INT), 1) = '1'"
         for j in range(BLOOM_K))})
     SELECT p.o_orderkey, p.o_custkey,
            CAST(b.k IS NOT NULL AS INT) AS is_member
     FROM passed p LEFT JOIN bkeys b ON b.k = p.o_custkey""")
def join_bloom(spark, sf):
    """Bloom-prefiltered join (runtime-filter semi-join reduction): the
    100-TB join pattern where the probe side is shuffled ONLY after a
    broadcast Bloom filter built from the (selective) build side has
    discarded rows that cannot match. The filter is deterministic — k
    bit positions per key from disjoint 24-bit windows of one salted md5,
    the bit set packed into M/64 longs — so the gate can check the EXACT
    pass set, false positives included (the is_member flag exposes them:
    at sf0.01, 302 build keys fill ~20% of 4096 bits → fill^3 ≈ 0.8% key
    FP rate — 34 false-positive rows survive next to 2958 true matches).

    Scale shape: build side is one map-side-combinable distinct + a
    collect_set of ≤ M integers reduced to M/64 packed words (512 bytes
    at any corpus size, independent of key count) that re-enter the plan
    as a literal — exactly Spark's own BloomFilterAggregate lifecycle and
    the k-means-centroid bounded-driver-traffic pattern; probe side
    evaluates ONE md5 + three O(1) word/bit tests per row in whole-stage
    codegen, BEFORE any shuffle or join. The exact verify join that
    follows touches only the ~20x reduced survivor set. Production
    Spark: the same effect via spark.sql.optimizer.runtime.bloomFilter
    (AQE-injected), or a bucketed build table; the explicit form is what
    you write when the build side is an intermediate result the
    optimizer can't see through."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    bkeys = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    pos = bkeys.select(
        _bloom_hash(F.col("k").cast("string")).alias("h")
    ).select(
        F.explode(
            F.array(*[_bloom_pos(F.col("h"), j) for j in range(BLOOM_K)])
        ).alias("p")
    )
    # Pack the bit set into M/64 longs and pull that ONE word array
    # (512 bytes — size independent of key count) to the driver, then
    # re-inject it as an array literal into the probe filter. This is
    # exactly what Spark's own runtime bloom filter does (BloomFilter-
    # Aggregate → driver → literal in the probe's scan filter), the same
    # bounded driver-traffic pattern as the k-means centroid collect, and
    # the long[]-words layout IS the real BloomFilter representation.
    # Two rejected formulations, both measured at sf0.1's 150k-row probe:
    # riding the bits on a 1-row broadcast join plans a BroadcastNested-
    # LoopJoin that executes INTERPRETED (5.4s), and substring(bitstr, p)
    # on a 4096-char literal is O(p) per row in UTF8String char indexing
    # (1.4s per hash). element_at(word array) + shift + AND is O(1) and
    # stays in codegen.
    positions = pos.agg(F.collect_set("p").alias("bits")).head()[0]
    words = [0] * (BLOOM_M // 64)
    for p in positions:
        words[p // 64] |= 1 << (p % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    words_sql = "array(" + ", ".join(f"{w}L" for w in words) + ")"
    passed = orders.select(
        "o_orderkey", "o_custkey",
        _bloom_hash(F.col("o_custkey").cast("string")).alias("_h"),
    )
    for j in range(BLOOM_K):
        passed = passed.withColumn(f"_p{j}", _bloom_pos(F.col("_h"), j))
        passed = passed.filter(F.expr(
            f"(shiftrightunsigned(element_at({words_sql},"
            f" cast(_p{j} div 64 as int) + 1),"
            f" cast(_p{j} % 64 as int)) & 1L) = 1L"
        ))
    return (
        passed.select("o_orderkey", "o_custkey")
        .join(F.broadcast(bkeys),
              F.col("o_custkey") == F.col("k"), "left")
        .select(
            "o_orderkey", "o_custkey",
            F.col("k").isNotNull().cast("int").alias("is_member"),
        )
    )


# ----------------------------------------------------------- aggregations --

@reg("agg_groupby_count",
     "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n "
     "FROM lineitem GROUP BY l_returnflag, l_linestatus")
def agg_groupby_count(spark, sf):
    return _t(spark, sf, "lineitem").groupBy("l_returnflag", "l_linestatus") \
        .agg(F.count("*").alias("n"))


@reg("agg_conditional",
     "SELECT o_orderpriority, "
     "ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2)"
     " AS f_total, "
     "ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END) "
     " / SUM(o_totalprice), 4) AS f_share "
     "FROM orders GROUP BY o_orderpriority")
def agg_conditional(spark, sf):
    o = _t(spark, sf, "orders")
    f_sum = F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
                  .otherwise(0.0))
    return o.groupBy("o_orderpriority").agg(
        F.round(f_sum, 2).alias("f_total"),
        F.round(f_sum / F.sum("o_totalprice"), 4).alias("f_share"),
    )


@reg("agg_multi",
     "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, "
     "ROUND(SUM(l_quantity), 2) AS sum_qty, "
     "ROUND(AVG(l_extendedprice), 4) AS avg_price, "
     "strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship, "
     "strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship "
     "FROM lineitem GROUP BY l_returnflag")
def agg_multi(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
    )


@reg("agg_maxby",
     "SELECT c_nationkey, arg_max(c_name, c_acctbal) AS top_customer, "
     "ROUND(MAX(c_acctbal), 2) AS top_bal "
     "FROM customer GROUP BY c_nationkey")
def agg_maxby(spark, sf):
    c = _t(spark, sf, "customer")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_acctbal").alias("top_customer"),
        F.round(F.max("c_acctbal"), 2).alias("top_bal"),
    )


@reg("agg_distinct",
     "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders")
def agg_distinct(spark, sf):
    return _t(spark, sf, "orders").select("o_orderstatus", "o_orderpriority") \
        .distinct()


@reg("agg_approx_distinct", None)  # approx algos differ across engines
def agg_approx_distinct(spark, sf):
    d = _t(spark, sf, "documents")
    return d.agg(
        F.approx_count_distinct("source").alias("approx_sources"),
        F.approx_count_distinct("doc_id").alias("approx_docs"),
    )


@reg("agg_rollup",
     "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, "
     "ROUND(SUM(l_quantity), 2) AS sum_qty "
     "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)")
def agg_rollup(spark, sf):
    return _t(spark, sf, "lineitem").rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@reg("agg_cube",
     "SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n "
     "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)")
def agg_cube(spark, sf):
    return _t(spark, sf, "orders").cube("o_orderstatus", "o_orderpriority") \
        .agg(F.count("*").alias("n"))


@reg("agg_moments",
     "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, "
     "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_q, "
     "CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) "
     "AS BIGINT) AS s_qq, "
     "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
     "AS s_p, "
     "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) "
     "* CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_qp "
     "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
def agg_moments(spark, sf):
    """Exact integer covariance moments — covar/stddev/regression are
    ratios of sums, and float moment accumulation is partition-order-
    dependent (the assortativity/modularity argument on the relational
    side): per group emit the exact bigint moments (n, Σq, Σq², Σp_cents,
    Σq·p) and assemble covariance and the regression slope
    (n·Σqp − Σq·Σp)/(n·Σq² − (Σq)²) offline. Σp² is deliberately absent:
    cents² sums cross bigint range around sf1 — the full-Pearson variant
    goes through decimal(38,0)/HUGEINT (bit-equal cross-engine, proven
    by the HITS key) when someone needs it. Quantities are integral
    doubles (cast exact); money goes through integer cents. At 10^12
    rows this is ONE map-side-combinable aggregate — the same cost as
    the float corr() built-in, with none of its drift."""
    li = _t(spark, sf, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    p = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).cast("bigint").alias("s_q"),
            F.sum(q * q).cast("bigint").alias("s_qq"),
            F.sum(p).cast("bigint").alias("s_p"),
            F.sum(p * q).cast("bigint").alias("s_qp"),
        )
        .orderBy("l_returnflag")
    )


@reg("agg_grouping_sets",
     "SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, "
     "ROUND(SUM(o_totalprice), 2) AS total "
     "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), "
     "(o_orderpriority), (o_orderstatus, o_orderpriority))")
def agg_grouping_sets(spark, sf):
    """GROUPING SETS — the general form A7's rollup/cube are sugar for:
    an explicit list of grouping column sets computed in one pass (the
    report query that wants 'by status', 'by priority', and 'by both'
    without three scans). Spark plans one Expand + one hash aggregate —
    the scan is read once and each row fans out only to its |sets|
    grouping rows, all map-side combinable."""
    return (
        _t(spark, sf, "orders")
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"],
             ["o_orderstatus", "o_orderpriority"]],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@reg("agg_pandas",
     "SELECT lang, ROUND(AVG(n_chars), 4) AS mean_chars, "
     "CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang")
def agg_pandas(spark, sf):
    """Grouped-agg pandas UDF (U6) — Arrow-vectorized, checked vs SQL AVG."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mean_chars(v: pd.Series) -> float:
        return float(v.mean())

    # grouped-agg pandas UDFs can't mix with built-in aggs in one agg()
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.round(mean_chars("n_chars"), 4).alias("mean_chars"),
        n_rows("n_chars").alias("n"),
    )


# ---------------------------------------------------------------- windows --

@reg("window_rownum",
     "SELECT o_custkey, o_orderkey FROM ("
     "  SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER ("
     "    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC"
     "  ) AS rn FROM orders) WHERE rn = 1")
def window_rownum(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    return o.withColumn("rn", F.row_number().over(w)).filter("rn = 1") \
        .select("o_custkey", "o_orderkey")


@reg("window_rank",
     "SELECT o_orderpriority, o_orderkey, rnk FROM ("
     "  SELECT o_orderpriority, o_orderkey, RANK() OVER ("
     "    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey"
     "  ) AS rnk FROM orders) WHERE rnk <= 3")
def window_rank(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.withColumn("rnk", F.rank().over(w)).filter("rnk <= 3") \
        .select("o_orderpriority", "o_orderkey", "rnk")


@reg("window_lag",
     "SELECT user_id, event_id, "
     "ROUND(value - LAG(value) OVER ("
     "  PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta "
     "FROM events")
def window_lag(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


@reg("window_frame",
     "SELECT user_id, event_id, "
     "ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
     "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg "
     "FROM events")
def window_frame(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(-2, Window.currentRow)
    return e.select(
        "user_id", "event_id",
        F.round(F.avg("value").over(w), 4).alias("mov_avg"),
    )


@reg("window_cumsum",
     "SELECT user_id, event_id, "
     "ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
     "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value "
     "FROM events")
def window_cumsum(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 4).alias("cum_value"),
    )


# ---------------------------------------------------------- sorts / topk ---

@reg("sort_limit_topk",
     "SELECT o_orderkey, ROUND(o_totalprice, 2) AS total FROM orders "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")
def sort_limit_topk(spark, sf):
    # Spark plans TakeOrderedAndProject — no global sort materialized
    o = _t(spark, sf, "orders")
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")) \
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total")) \
        .limit(10)


@reg("sort_multi",
     "SELECT n_name, n_regionkey FROM nation ORDER BY n_regionkey DESC, n_name")
def sort_multi(spark, sf):
    return _t(spark, sf, "nation").orderBy(F.desc("n_regionkey"), "n_name") \
        .select("n_name", "n_regionkey")


# ------------------------------------------------------------- set ops -----

@reg("setop_union",
     "SELECT r_name AS name, 'region' AS kind FROM region "
     "UNION ALL SELECT n_name AS name, 'nation' AS kind FROM nation")
def setop_union(spark, sf):
    r = _t(spark, sf, "region").select(F.col("r_name").alias("name"),
                                       F.lit("region").alias("kind"))
    n = _t(spark, sf, "nation").select(F.col("n_name").alias("name"),
                                       F.lit("nation").alias("kind"))
    return r.unionByName(n)


@reg("setop_except",
     "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders")
def setop_except(spark, sf):
    c = _t(spark, sf, "customer").select(F.col("c_custkey"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.exceptAll(o.distinct()).distinct()


@reg("setop_intersect",
     "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders")
def setop_intersect(spark, sf):
    c = _t(spark, sf, "customer").select(F.col("c_custkey"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o)


# ----------------------------------------------------- scalar functions ----

@reg("fn_string",
     "SELECT doc_id, upper(lang) AS lang_u, "
     "substr(source, 4) AS src_num, "
     "CAST(length(text) AS BIGINT) AS text_len, "
     "trim(concat(lang, ' ', source)) AS tagged "
     "FROM documents")
def fn_string(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_u"),
        F.substring("source", 4, 2_000_000).alias("src_num"),
        F.length("text").cast("bigint").alias("text_len"),
        F.trim(F.concat_ws(" ", "lang", "source")).alias("tagged"),
    )


@reg("fn_string2",
     "SELECT doc_id, "
     "translate(lang, 'aeiou', 'AEIOU') AS lang_t, "
     "repeat(substr(lang, 1, 1), 3) AS lang_rep, "
     "CAST(instr(text, 'the') AS BIGINT) AS pos_the, "
     "lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id_pad, "
     "rpad(source, 10, '.') AS src_pad, "
     "reverse(lang) AS lang_rev "
     "FROM documents")
def fn_string2(spark, sf):
    """The rest of the portable string surface fn_string leaves out:
    translate (character mapping), repeat, instr (1-based find, 0 when
    absent — identical convention both engines), lpad/rpad (the
    fixed-width render the graph_path state key depends on), reverse."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.translate("lang", "aeiou", "AEIOU").alias("lang_t"),
        F.repeat(F.substring("lang", 1, 1), 3).alias("lang_rep"),
        F.instr("text", "the").cast("bigint").alias("pos_the"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("id_pad"),
        F.rpad("source", 10, ".").alias("src_pad"),
        F.reverse("lang").alias("lang_rev"),
    )


@reg("fn_hash",
     "SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha2 "
     "FROM documents")
def fn_hash(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha2"),
    )


@reg("fn_bitwise",
     "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
     "CAST(bit_and(o_orderkey & 65535) AS BIGINT) AS k_and, "
     "CAST(bit_or(o_orderkey & 65535) AS BIGINT) AS k_or, "
     "CAST(bit_xor(o_orderkey & 65535) AS BIGINT) AS k_xor, "
     "CAST(bit_xor(((o_orderkey & 255) << 8) | (o_custkey & 255)) "
     "AS BIGINT) AS packed_xor, "
     "CAST(bit_xor(xor(o_orderkey, 61680) >> 2) AS BIGINT) AS mix_xor "
     "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
def fn_bitwise(spark, sf):
    """Bitwise function family — the id-packing / flag-mask / XOR-
    checksum surface (the gate's own value-hash layer runs on XOR
    aggregates because integer sum() overflows under ANSI): per status
    group, bit_and / bit_or / bit_xor folds over masked keys, a
    shift-packed two-field word, and a xor+shift mix. All exact bigint —
    associative+commutative folds, so partition-order-proof by
    construction. Note the cross-engine trap this key pins: `^` is XOR
    in Spark SQL but POWER in DuckDB (xor() there); shifts spelled
    shiftleft/shiftright vs << / >>."""
    o = _t(spark, sf, "orders")
    masked = F.expr("o_orderkey & 65535")
    packed = F.expr("((o_orderkey & 255) << 8) | (o_custkey & 255)")
    mix = F.expr("shiftright(o_orderkey ^ 61680, 2)")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_and(masked).cast("bigint").alias("k_and"),
            F.bit_or(masked).cast("bigint").alias("k_or"),
            F.bit_xor(masked).cast("bigint").alias("k_xor"),
            F.bit_xor(packed).cast("bigint").alias("packed_xor"),
            F.bit_xor(mix).cast("bigint").alias("mix_xor"),
        )
        .orderBy("o_orderstatus")
    )


@reg("fn_parse_url",
     "SELECT doc_id, "
     "regexp_extract(url, 'https://([^/]+)/', 1) AS host, "
     "regexp_extract(url, 'https://[^/]+(/.*)$', 1) AS path FROM ("
     "  SELECT doc_id, concat('https://', source, '.example.com/doc/', "
     "         CAST(doc_id AS VARCHAR)) AS url FROM documents)")
def fn_parse_url(spark, sf):
    d = _t(spark, sf, "documents")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                   F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
    )


@reg("fn_date",
     "SELECT o_orderkey, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr, "
     "CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo, "
     "strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start, "
     "CAST(date_diff('day', DATE '2020-01-01', CAST(o_orderdate AS DATE)) AS INT)"
     " AS days_since "
     "FROM orders")
def fn_date(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
         .alias("month_start"),
        F.datediff(F.to_date("o_orderdate"), F.lit("2020-01-01"))
         .alias("days_since"),
    )


@reg("fn_math",
     "SELECT l_orderkey, l_linenumber, "
     "ROUND(l_extendedprice * (1 - l_discount), 4) AS net, "
     "ROUND(ln(1 + l_quantity), 6) AS log_qty, "
     "ROUND(sqrt(l_extendedprice), 6) AS sqrt_price, "
     "GREATEST(l_tax, l_discount) AS max_rate "
     "FROM lineitem")
def fn_math(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        # 4dp, not 2: the product of two 2-dp doubles is exactly a 4-decimal
        # value, so 4dp rounding has no half-way ties (2dp does → engines
        # disagree on ~0.2% of rows)
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
         .alias("net"),
        F.round(F.log(F.lit(1) + F.col("l_quantity")), 6).alias("log_qty"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
    )


@reg("fn_array_explode",
     "SELECT doc_id, unnest(str_split(text, ' ')[1:5]) AS word FROM documents")
def fn_array_explode(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.explode(F.slice(F.split("text", " "), 1, 5)).alias("word"),
    )


@reg("fn_array_hof",
     "SELECT vec_id, "
     "ROUND(list_sum(list_transform(embedding, "
     "  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm, "
     "CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos, "
     "CAST(len(embedding) AS INT) AS dim "
     "FROM embeddings")
def fn_array_hof(spark, sf):
    e = _t(spark, sf, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.round(sq, 4).alias("sq_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.size("embedding").alias("dim"),
    )


@reg("fn_map",
     "SELECT doc_id, "
     "CAST(map_extract(map {'lang': lang, 'source': source}, 'lang')[1] "
     "AS VARCHAR) AS lang_v, "
     "array_to_string(map_keys(map {'lang': lang, 'source': source}), ',')"
     " AS keys_csv "
     "FROM documents")
def fn_map(spark, sf):
    d = _t(spark, sf, "documents")
    m = F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source"))
    return d.select(
        "doc_id",
        F.element_at(m, "lang").alias("lang_v"),
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
    )


@reg("fn_json",
     "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k "
     "FROM events")
def fn_json(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@reg("fn_case",
     "SELECT event_id, "
     "CASE WHEN value > 100 THEN 'high' WHEN value > 10 THEN 'mid' "
     "ELSE 'low' END AS bucket, "
     "COALESCE(NULLIF(event_type, 'error'), 'unknown') AS etype "
     "FROM events")
def fn_case(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.when(F.col("value") > 100, "high")
         .when(F.col("value") > 10, "mid")
         .otherwise("low").alias("bucket"),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("unknown"))
         .alias("etype"),
    )


# ------------------------------------------------------- skew (J8) ---------

def salted_join(big: DataFrame, small: DataFrame, on: str, n_salts: int = 16,
                how: str = "inner") -> DataFrame:
    """Equi-join robust to hot keys in `big`: salt the big side, replicate
    `small` ×n_salts (the classic user-level skew join)."""
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<bigint>"))
    )
    return big_s.join(small_s, on=[on, "_salt"], how=how).drop("_salt")


@reg("join_salted",
     "SELECT o.o_orderkey, c.c_mktsegment FROM orders o "
     "JOIN customer c ON o.o_custkey = c.c_custkey")
def join_salted_q(spark, sf):
    """J8: salted equi-join (big side salted, small side exploded xS).
    The oracle is the PLAIN join — salting must be result-invariant, which
    is exactly the property worth checking."""
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return salted_join(o, c, on="o_custkey", n_salts=8).select(
        "o_orderkey", "c_mktsegment"
    )


# ------------------------------------------------ time-window agg ----------

@reg("agg_time_window",
     "SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), "
     "'%Y-%m-%d %H:%M:%S') AS window_start, "
     "count(*) AS n_events, "
     "round(sum(value), 2) AS total_value "
     "FROM events GROUP BY 1")
def agg_time_window(spark, sf):
    """Tumbling 1-hour window aggregation — the batch shape of the
    streaming windowed agg (streaming.hourly_ingest_stats); window().start
    vs DuckDB time_bucket."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


# ------------------------------------------------ sessionization -----------

SESSION_GAP_US = 1800 * 1_000_000  # 30-minute inactivity gap


@reg("evt_sessionize",
     f"""WITH o AS (
       SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS ns
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
     s AS (
       SELECT user_id, event_id, ts, value,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_no
       FROM o)
     SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       CAST(count(*) AS BIGINT) AS n_events,
       min(epoch_us(ts)) AS t_start_us, max(epoch_us(ts)) AS t_end_us,
       round(sum(value), 2) AS total_value
     FROM s GROUP BY user_id, session_no""")
def evt_sessionize(spark, sf):
    """Gap-based sessionization — the classic clickstream operator Spark
    has no built-in for, expressed as lag + conditional flag + running sum
    (two passes over ONE user-partitioned sort; Catalyst plans a single
    Window exchange for both). Gap arithmetic is in exact integer
    MICROSECONDS (unix_micros / epoch_us in DuckDB): second-truncated
    timestamps would mis-split sessions whose gap straddles the threshold
    by < 1s, and float epochs reintroduce engine-dependent rounding. At
    10^12 events this is one shuffle on user_id; a hot user (bot) bounds
    the window buffer at their event count — salt by (user_id, day) first
    if that's unbounded."""
    e = _t(spark, sf, "events")
    # ts is TIMESTAMP_NTZ: unix_micros() rejects it, and timestampdiff
    # coerces NTZ→TIMESTAMP through the SESSION ZONE — under a DST zone the
    # 1970-epoch offset differs from the timestamp's offset and the epoch
    # shifts by an hour. Assembling microseconds from zone-free wall-clock
    # fields (unix_date + hour/minute + decimal SECOND) is exact in any
    # session timezone and equals DuckDB's epoch_us on naive timestamps
    # (verified bit-equal on the full events table under
    # America/New_York). Literals are bigint-cast: minute(ts)*60000000
    # overflows INT for minute ≥ 36. Computed once; the gap lags the
    # integer, not the timestamp.
    us = F.expr(
        "unix_date(cast(ts as date))*86400000000"
        " + cast(hour(ts) as bigint)*3600000000"
        " + cast(minute(ts) as bigint)*60000000"
        " + cast(extract(SECOND from ts)*1000000 as bigint)"
    )
    return sessionize_us(
        e.select("user_id", "event_id", "value", us.alias("_us")),
        SESSION_GAP_US,
    )


def sessionize_us(events_us: DataFrame, gap_us: int) -> DataFrame:
    """The session-assembly core over (user_id, event_id, _us, value):
    lag + new-session flag + running sum (both windows share ONE
    user-partitioned sort exchange), then the per-session rollup.
    Shared by the evt_sessionize gate key and jobs/bench_events.py's
    10^8-event scale exercise — the scale proof runs THIS code, not a
    reimplementation."""
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    gap = F.col("_us") - F.lag("_us").over(w)
    flagged = events_us.select(
        "user_id",
        "event_id",
        "_us",
        "value",
        F.when(gap.isNull() | (gap > gap_us), 1)
        .otherwise(0)
        .alias("ns"),
    )
    sess = flagged.select(
        "user_id",
        "_us",
        "value",
        F.sum("ns")
        .over(
            Window.partitionBy("user_id")
            .orderBy("_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("_us").alias("t_start_us"),
        F.max("_us").alias("t_end_us"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# ------------------------------------------------ funnel analysis ----------

_FUNNEL_US = (
    "unix_date(cast(ts as date))*86400000000"
    " + cast(hour(ts) as bigint)*3600000000"
    " + cast(minute(ts) as bigint)*60000000"
    " + cast(extract(SECOND from ts)*1000000 as bigint)"
)


FUNNEL_WINDOW_US = 12 * 3600 * 1_000_000  # 12h conversion window per step


@reg("evt_funnel",
     f"""WITH e AS (
       SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
     s1 AS (
       SELECT user_id, min(us) AS t1 FROM e
       WHERE event_type = 'view' GROUP BY user_id),
     s2 AS (
       SELECT e.user_id, min(e.us) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.us > s1.t1
         AND e.us <= s1.t1 + {FUNNEL_WINDOW_US} GROUP BY e.user_id),
     s3 AS (
       SELECT e.user_id, min(e.us) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.us > s2.t2
         AND e.us <= s2.t2 + {FUNNEL_WINDOW_US} GROUP BY e.user_id)
     SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_step1,
            CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_step2,
            CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_step3""")
def evt_funnel(spark, sf):
    """Ordered 3-step funnel (view → click → purchase) with a 12-hour
    per-step conversion window: users counted at step k must have
    performed step k's event strictly after their step-(k-1) entry time
    and within the window — the order- and recency-sensitive semantics a
    naive per-type distinct-count gets wrong (here: 150 → 37 → 7 at
    sf0.01, vs 150/150/150 unwindowed). Each step is one map-side-
    combined min-agg + one equi-join on user_id; at 10^12 events the step
    tables shrink monotonically, so every join after step 1 is
    broadcast-eligible under AQE. Same zone-free integer-microsecond time
    base as evt_sessionize."""
    e = _t(spark, sf, "events").select(
        "user_id", "event_type", F.expr(_FUNNEL_US).alias("us")
    )
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("us") > F.col("t1"))
            & (F.col("us") <= F.col("t1") + FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("us") > F.col("t2"))
            & (F.col("us") <= F.col("t2") + FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    k = F.lit(1).alias("_k")
    return (
        s1.agg(F.count(F.lit(1)).alias("n_step1")).select(k, "n_step1")
        .join(s2.agg(F.count(F.lit(1)).alias("n_step2")).select(k, "n_step2"), "_k")
        .join(s3.agg(F.count(F.lit(1)).alias("n_step3")).select(k, "n_step3"), "_k")
        .select("n_step1", "n_step2", "n_step3")
    )


_SEQ_CLEAN_PAT = "^signup(>[a-df-z][a-z]*)*>purchase"  # no 'e…'(=error) before


@reg("evt_sequence_match",
     f"""WITH e AS (
       SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       FROM events),
     s AS (
       SELECT user_id,
              count(*) AS n_events,
              string_agg(event_type, '>' ORDER BY us, event_id) AS seq
       FROM e GROUP BY user_id)
     SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
            md5(seq) AS seq_fp,
            CAST(regexp_matches(seq, '{_SEQ_CLEAN_PAT}') AS INT)
              AS converted
     FROM s""")
def evt_sequence_match(spark, sf):
    """MATCH_RECOGNIZE-lite: per-user ordered event-type sequence as a
    delimiter-joined string, pattern-matched with a regex — here "the user's
    FIRST event is a signup that reaches a purchase with no error before
    it" (13/150 users at sf0.01 — anchored + exclusion, so both the
    order and the absence constraint bind) (RE2∩Java portable
    subset: no lookarounds, so 'not error' is the character-class trick
    [a-df-z][a-z]* — every other event type avoids the leading 'e').
    The ordered aggregation is the determinism trap this key certifies:
    collect_list order is partition-dependent, so the sequence is built
    by sort_array over (us, event_id, type) structs — bit-stable at any
    parallelism and exactly DuckDB's string_agg(... ORDER BY us,
    event_id). seq_fp hashes the full sequence, so ANY order flip fails
    the gate.

    Scale: one map-side-combinable collect per user; per-user sequences
    are activity-bounded (hot users = the evt_sessionize skew story —
    cap or split sequences at session boundaries in production)."""
    e = _t(spark, sf, "events").select(
        "user_id",
        F.struct(
            F.expr(_FUNNEL_US).alias("us"),
            F.col("event_id"),
            F.col("event_type"),
        ).alias("ev"),
    )
    seq = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("ev")), lambda x: x["event_type"]
        ),
        ">",
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            seq.alias("seq"),
        )
        .select(
            "user_id",
            "n_events",
            F.md5(F.col("seq").cast("binary")).alias("seq_fp"),
            F.col("seq").rlike(_SEQ_CLEAN_PAT).cast("int").alias("converted"),
        )
    )


# ------------------------------------------------ as-of join ---------------

@reg("evt_asof",
     """WITH e AS (
       SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
              CAST(round(value * 100) AS BIGINT) AS val_c
       FROM events WHERE event_type IN ('view', 'purchase')),
     t AS (
       SELECT user_id, event_id, us,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_state,
         CASE WHEN event_type = 'view' THEN us END AS s_us,
         CASE WHEN event_type = 'view' THEN val_c END AS s_val,
         val_c
       FROM e),
     j AS (
       SELECT user_id, event_id, us, is_state, val_c,
         last_value(s_us IGNORE NULLS) OVER w AS view_us,
         last_value(s_val IGNORE NULLS) OVER w AS view_val_c
       FROM t
       WINDOW w AS (PARTITION BY user_id
                    ORDER BY us, is_state DESC, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
     SELECT event_id, user_id, val_c, view_us, view_val_c,
            us - view_us AS age_us
     FROM j WHERE is_state = 0""")
def evt_asof(spark, sf):
    """As-of (point-in-time) join — the temporal operator Spark has no
    built-in for: each purchase event is joined to the MOST RECENT view
    event of the same user at or before its timestamp (NULL if none).
    The KG pipeline runs this exact shape to attach the latest crawl
    state (warc_ts) to each annotation time; finance calls it
    trade↔quote. The naive formulation is a per-row correlated subquery
    (or DuckDB's native ASOF JOIN); the scalable one used here is
    union-then-window: tag state rows, union both streams, and take
    last(ignorenulls) over a user-partitioned ts-ordered frame — ONE
    shuffle on user_id total, vs a join whose range predicate defeats
    equi-join planning. Ties (state and observation at the same
    microsecond) sort the state row first, so same-instant state is
    visible ('<=' semantics); event_id breaks any remaining tie, making
    the frame order total and the result deterministic. Same zone-free
    integer-microsecond base as evt_sessionize; money in integer cents.
    At 10^12 events: one Exchange on user_id, window buffer bounded per
    user — salt hot users by day first, as in sessionization."""
    e = _t(spark, sf, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(_FUNNEL_US).alias("us"),
        F.expr("cast(round(value * 100) as bigint)").alias("val_c"),
    )
    is_view = F.col("event_type") == "view"
    tagged = e.select(
        "user_id",
        "event_id",
        "us",
        F.when(is_view, 1).otherwise(0).alias("is_state"),
        F.when(is_view, F.col("us")).alias("s_us"),
        F.when(is_view, F.col("val_c")).alias("s_val"),
        "val_c",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", F.col("is_state").desc(), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = tagged.select(
        "event_id",
        "user_id",
        "us",
        "is_state",
        "val_c",
        F.last("s_us", ignorenulls=True).over(w).alias("view_us"),
        F.last("s_val", ignorenulls=True).over(w).alias("view_val_c"),
    )
    return joined.filter(F.col("is_state") == 0).select(
        "event_id",
        "user_id",
        "val_c",
        "view_us",
        "view_val_c",
        (F.col("us") - F.col("view_us")).alias("age_us"),
    )


# ------------------------------------------------ time-series gap fill -----

@reg("evt_gap_fill",
     """WITH daily AS (
       SELECT user_id, date_trunc('day', ts)::DATE AS d,
              max(CAST(round(value * 100) AS BIGINT)) AS day_max
       FROM events GROUP BY 1, 2),
     span AS (
       SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
     cal AS (
       SELECT user_id,
              unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
       FROM span),
     j AS (
       SELECT cal.user_id, cal.d, daily.day_max
       FROM cal LEFT JOIN daily USING (user_id, d))
     SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
            last_value(day_max IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS val_filled,
            CAST(day_max IS NULL AS INT) AS gap
     FROM j""")
def evt_gap_fill(spark, sf):
    """Time-series regularization: per-user daily series with MISSING
    days materialized and forward-filled — the gap-fill / resample
    operator (TimescaleDB's time_bucket_gapfill + locf) that turns an
    irregular event log into the regular grid every downstream
    time-series model assumes. Three moves, each the scalable form:
    (1) bucket to days with an exact integer aggregate (max cents —
    deterministic without a tie-broken per-bucket argmax); (2) generate
    each user's calendar via sequence() BOUNDED by that user's own
    [min, max] span (never a global calendar cross join — at 10^12
    events the grid is Σ per-user spans, not users x full-range); (3) one
    user-partitioned window with last(ignorenulls) — the evt_asof
    forward-fill frame. The first grid row is always a real observation
    (the span starts at the user's first event), so val_filled is never
    NULL and the value hash certifies fill provenance via the gap flag.
    One Exchange for the bucket groupBy, whose partitioning the span
    rollup and the window REUSE (same user_id key); the calendar join
    broadcasts nothing and stays skew-safe because a user's grid is at
    most their active-day span."""
    ev = _t(spark, sf, "events").select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.expr("cast(round(value * 100) as bigint)").alias("val_c"),
    )
    daily = ev.groupBy("user_id", "d").agg(F.max("val_c").alias("day_max"))
    span = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    cal = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
    )
    j = cal.join(daily, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.last("day_max", ignorenulls=True).over(w).alias("val_filled"),
        F.col("day_max").isNull().cast("int").alias("gap"),
    )


# ------------------------------------------------ exact percentiles --------

@reg("agg_percentile",
     """SELECT l_returnflag,
          round(quantile_cont(l_quantity, 0.25), 4) AS p25,
          round(quantile_cont(l_quantity, 0.50), 4) AS p50,
          round(quantile_cont(l_quantity, 0.75), 4) AS p75,
          round(quantile_cont(l_quantity, 0.90), 4) AS p90
        FROM lineitem GROUP BY l_returnflag""")
def agg_percentile(spark, sf):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear interpolation; quantities are
    integers so every interpolated value is an exact k/20 fraction —
    binary-representable, no cross-engine ulps). Exact percentile sorts
    each group's values: fine per-group here, and the production path at
    10^12 rows is approx_percentile (t-digest sketch, map-side merged) —
    the exact form is the oracle-checkable semantics anchor."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"),
        F.round(F.expr("percentile(l_quantity, 0.90)"), 4).alias("p90"),
    )


APPROX_PCT_ACCURACY = 10000  # Greenwald-Khanna accuracy: rank err <= n/acc


@reg("agg_approx_percentile", None)  # rows-only BY DESIGN: sketch
# internals (Spark QuantileSummaries vs any oracle's t-digest) are not
# value-comparable across engines — the agg_approx_distinct precedent.
# The ERROR BOUND vs the exact percentiles is pinned instead by
# tests/test_contract_extras.py::test_approx_percentile_error_bound.
def agg_approx_percentile(spark, sf):
    """T16'b approx percentiles — the ACTUAL 10^12-row path the exact
    agg_percentile key anchors semantics for: one pass, mergeable
    Greenwald-Khanna summaries (map-side partials, no per-group sort),
    rank error <= n/APPROX_PCT_ACCURACY by construction. Deterministic
    for a fixed input+accuracy (GK compression is data-order-dependent
    only across repartitionings of unsorted input; the gate reads a
    stable parquet layout), but NOT cross-engine comparable — hence
    rows-only, with the bound test as the quality certificate."""
    li = _t(spark, sf, "lineitem")
    acc = APPROX_PCT_ACCURACY
    return li.groupBy("l_returnflag").agg(
        F.expr(f"approx_percentile(l_quantity, 0.25, {acc})").alias("p25"),
        F.expr(f"approx_percentile(l_quantity, 0.50, {acc})").alias("p50"),
        F.expr(f"approx_percentile(l_quantity, 0.75, {acc})").alias("p75"),
        F.expr(f"approx_percentile(l_quantity, 0.90, {acc})").alias("p90"),
    )


_WEEK_US = 7 * 86400 * 1_000_000  # cohort granularity for evt_retention


@reg("evt_retention",
     f"""WITH p AS (
       SELECT user_id, epoch_us(ts) // {_WEEK_US} AS wk
       FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, min(wk) AS cohort_week FROM p GROUP BY user_id)
     SELECT c.cohort_week, p.wk - c.cohort_week AS week_offset,
            CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
     FROM p JOIN c ON c.user_id = p.user_id
     GROUP BY 1, 2""")
def evt_retention(spark, sf):
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by their FIRST purchase week, counted as retained in every
    later week they purchase again (3 cohorts with decaying counts at
    sf0.01 — offsets are week-active flags, not contiguous streaks).
    Week indices are exact integer division of the microsecond epoch
    (the evt_sessionize time base), so the matrix is engine- and
    partitioning-independent.

    Scale shape: first-purchase is a map-side-combinable min per user;
    the cohort table joins back on user_id (user-sized, AQE broadcasts
    it while it fits, shuffle-hash beyond); the matrix agg distinct-
    counts users per (cohort, offset) cell — at 10^12 events the
    distinct is the only real shuffle and it is keyed on the cell, not
    the user."""
    p = _t(spark, sf, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.expr(f"({_FUNNEL_US}) div {_WEEK_US}").alias("wk"),
    )
    c = p.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        p.join(c, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@reg("evt_transitions",
     """WITH p AS (
       SELECT lag(event_type) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
              event_type AS to_type
       FROM events),
     c AS (
       SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       FROM p WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
     t AS (
       SELECT from_type, CAST(sum(n) AS BIGINT) AS from_total
       FROM c GROUP BY from_type)
     SELECT c.from_type, c.to_type, c.n, t.from_total,
            c.n * 1000000 // t.from_total AS p_ppm
     FROM c JOIN t ON t.from_type = c.from_type
     ORDER BY c.from_type, c.to_type""")
def evt_transitions(spark, sf):
    """Event-type transition matrix — the first-order Markov model of the
    clickstream (what follows what, and how often): per user, consecutive
    event-type pairs in (ts, event_id) order via ONE lag window, then a
    map-side-combinable pair count and per-source totals, transition
    probability in exact integer ppm (nonneg floor division — engine- and
    partition-order-independent). The companion to sessionize (T14') /
    funnel (T15') / sequence-match (T20'): those answer point questions,
    this one summarizes the whole process. At 10^12 events: one shuffle
    on user_id for the lag (hot users bound the window buffer — same
    salting note as sessionize), then aggregates over a
    |types|²-row table."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    c = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.groupBy("from_type").agg(F.sum("n").cast("bigint").alias(
        "from_total"))
    return (
        c.join(t, "from_type")
        .select(
            "from_type", "to_type", "n", "from_total",
            F.expr("n * 1000000 div from_total").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# The event-type vocabulary the pivot spreads into columns. EXPLICIT, not
# discovered: Spark's pivot without a value list runs an extra distinct
# job AND column order would depend on data; a production pivot always
# pins its spread columns (schema stability is the whole point of wide
# form). Keep sorted so the SQL mirror enumerates identically.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@reg("agg_pivot",
     "SELECT from_type, "
     + ", ".join(
         f"CAST(COALESCE(sum(CASE WHEN to_type = '{t}' THEN n END), 0) "
         f"AS BIGINT) AS to_{t}"
         for t in EVENT_TYPES)
     + """ FROM (
       SELECT from_type, to_type, count(*) AS n FROM (
         SELECT lag(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
                event_type AS to_type
         FROM events)
       WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
     GROUP BY from_type""")
def agg_pivot(spark, sf):
    """A7b pivot — the long→wide reshape users reach for right after
    evt_transitions emits its long-form matrix: one row per from_type,
    one column per to_type (the |types|×|types| Markov matrix as an
    actual matrix). Spark-side it is df.pivot with a PINNED value list
    (no schema-by-data surprises, no extra distinct job); the oracle is
    the equivalent conditional aggregation, the engine-portable spelling
    of pivot. Missing transitions are 0, not null (fill after pivot), so
    the wide row reads as a complete matrix row. Scale: input is the
    |types|²-row transition table — model-sized; the heavy lifting
    (the lag window over 10^12 events) happens upstream and is certified
    by evt_transitions; pivot itself is one tiny groupBy."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    wide = (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("from_type")
        .pivot("to_type", EVENT_TYPES)
        .sum("n")
    )
    return wide.select(
        "from_type",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"to_{t}")
            for t in EVENT_TYPES
        ],
    )


@reg("agg_unpivot",
     """WITH wide AS (
       SELECT l_returnflag,
              ROUND(SUM(l_quantity), 2) AS sum_qty,
              ROUND(SUM(l_extendedprice), 2) AS sum_price,
              ROUND(SUM(l_discount), 2) AS sum_disc
       FROM lineitem GROUP BY l_returnflag)
     SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
     UNION ALL
     SELECT l_returnflag, 'sum_price', sum_price FROM wide
     UNION ALL
     SELECT l_returnflag, 'sum_disc', sum_disc FROM wide""")
def agg_unpivot(spark, sf):
    """A11b unpivot — the wide→long inverse of agg_pivot, the other half
    of the reshape surface (metric tables into tidy long form before a
    groupBy-over-metric or a plotting sink). Spark-side it is the native
    DataFrame.unpivot (Expand under the hood: one pass, rows × |metrics|
    output, NO join and NO shuffle — the ids/values lists are pinned so
    the schema never depends on the data); the oracle is the
    engine-portable UNION ALL spelling. The wide input here is a
    model-sized rollup (|returnflag| rows); at 10^12 rows unpivot is
    still the same single Expand over whatever table it is given."""
    li = _t(spark, sf, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"],
        "metric", "value",
    )


@reg("window_percent",
     """SELECT c_custkey, c_nationkey, c_acctbal,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cume,
          CAST(ntile(10) OVER w AS BIGINT) AS decile
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal, c_custkey)""")
def window_percent(spark, sf):
    """W5 distribution window functions — percent_rank / cume_dist /
    ntile over per-nation balance order: the percentile-flavored window
    family (W1-W4 cover rownum/rank/lag/frames). The ORDER BY ends in
    the unique c_custkey so ranks are total and both engines agree on
    ties; percent_rank = k/(n-1) and cume_dist = k/n are the same two
    integer divisions in either engine (round 6 kills nothing, kept per
    house rule). One hash-partition shuffle + per-partition sort, the
    minimal plan for any ranked window at any scale; skewed nations ride
    the same salting story as every other single-key window."""
    c = _t(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )


@reg("evt_rfm",
     """WITH p AS (
       SELECT user_id, epoch_us(ts) AS us, value
       FROM events WHERE event_type = 'purchase'),
     agg AS (
       SELECT user_id, CAST(max(us) AS BIGINT) AS last_us,
              CAST(count(*) AS BIGINT) AS n_purchases,
              round(sum(value), 2) AS monetary
       FROM p GROUP BY user_id),
     scored AS (
       SELECT *,
         CAST(ntile(4) OVER (ORDER BY last_us DESC, user_id) AS BIGINT)
           AS r_code,
         CAST(ntile(4) OVER (ORDER BY n_purchases DESC, user_id) AS BIGINT)
           AS f_code,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
           AS m_code
       FROM agg)
     SELECT user_id, last_us, n_purchases, monetary,
            r_code, f_code, m_code,
            r_code * 100 + f_code * 10 + m_code AS rfm
     FROM scored ORDER BY user_id""")
def evt_rfm(spark, sf):
    """RFM segmentation — the canonical behavioral-cohort table next to
    T22's retention matrix: per purchasing user, Recency (last purchase
    time), Frequency, Monetary, each coded into quartiles (code 1 =
    best) and the composite rfm segment. Determinism discipline: ntile
    needs a TOTAL order or quartile boundaries are partition-dependent —
    every ORDER BY ends in user_id, and the time base is the exact
    integer-microsecond epoch (the sessionize trick). Scale shape: one
    map-side-combinable per-user agg; the three ntiles are global sorts
    of the ALREADY-AGGREGATED user table (production swaps exact ntile
    for approx-quantile cut points broadcast as literals — same
    column set, documented like the percentile key)."""
    e = _t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    us = F.expr(
        "unix_date(cast(ts as date))*86400000000"
        " + cast(hour(ts) as bigint)*3600000000"
        " + cast(minute(ts) as bigint)*60000000"
        " + cast(extract(SECOND from ts)*1000000 as bigint)"
    )
    agg = (
        e.select("user_id", us.alias("us"), "value")
        .groupBy("user_id")
        .agg(
            F.max("us").alias("last_us"),
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
    )
    nt = lambda col: F.ntile(4).over(  # noqa: E731
        Window.orderBy(F.col(col).desc(), F.col("user_id").asc())
    ).cast("bigint")
    scored = agg.select(
        "*",
        nt("last_us").alias("r_code"),
        nt("n_purchases").alias("f_code"),
        nt("monetary").alias("m_code"),
    )
    return scored.select(
        "user_id", "last_us", "n_purchases", "monetary",
        "r_code", "f_code", "m_code",
        (F.col("r_code") * 100 + F.col("f_code") * 10
         + F.col("m_code")).alias("rfm"),
    ).orderBy("user_id")


HIST_BIN_C = 2_500_000  # histogram bin width in integer cents ($25,000)


@reg("agg_histogram",
     f"""SELECT CAST(round(o_totalprice * 100) AS BIGINT) // {HIST_BIN_C}
              AS bin,
            (CAST(round(o_totalprice * 100) AS BIGINT) // {HIST_BIN_C})
              * {HIST_BIN_C // 100} AS bin_lo_usd,
            CAST(count(*) AS BIGINT) AS n_orders,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS sum_price_c
     FROM orders GROUP BY 1""")
def agg_histogram(spark, sf):
    """Fixed-width histogram — the profiling/EDA aggregate every corpus
    monitor runs (value→bin is a pure projection, so the whole histogram
    is ONE map-side-combinable groupBy with at most n_bins groups: the
    cheapest possible distribution sketch at 100 TB, and the exact one —
    no equi-depth estimation error). Money goes through integer cents
    (round(x*100)) before binning and summing: div on exact integers is
    engine-portable where double division is not."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    return (
        _t(spark, sf, "orders")
        .select(cents.alias("c"))
        .select(F.expr(f"c div {HIST_BIN_C}").alias("bin"), "c")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("c").alias("sum_price_c"),
        )
        .select(
            "bin",
            (F.col("bin") * (HIST_BIN_C // 100)).alias("bin_lo_usd"),
            "n_orders",
            "sum_price_c",
        )
    )


# ------------------------------------------- U1 / S2 text-core keys --------

@reg("udf_extract_identity",
     "SELECT doc_id, text AS extracted FROM documents")
def udf_extract_identity(spark, sf):
    """U1 byte-identity under the oracle gate: wrap each document's text in
    the generated-page html shape, run the REAL extraction UDF, and the
    oracle is the original text column — extract(wrap(text)) == text
    byte-for-byte (BASELINE.json input_hint invariant)."""
    from mxsparkg.extract import extract_text_udf

    d = _t(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><head><script>var x=1;</script></head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    ).cast("binary")
    return d.select("doc_id", extract_text_udf(html).alias("extracted"))


@reg("scan_annotated", None)  # rows-only: fixture-backed, no sf table
def scan_annotated(spark, sf):
    """S2: marker-annotated corpus scan + inline-marker parse (Arrow UDF).
    Uses the repo's deterministic fixture corpus (cached); rows-only check."""
    from collections.abc import Iterator

    import pyarrow as pa

    from fixtures.generate import ensure_fixtures
    from mxsparkg.textcore import parse_annotated

    fdir = ensure_fixtures("tiny")

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            raws = batch.column("raw").to_pylist()
            clean_lens, n_spans = [], []
            for r in raws:
                clean, spans = parse_annotated(r or "")
                clean_lens.append(len(clean))
                n_spans.append(len(spans))
            yield pa.RecordBatch.from_pydict({
                "doc_id": pa.array(ids, pa.int64()),
                "clean_len": pa.array(clean_lens, pa.int32()),
                "n_spans": pa.array(n_spans, pa.int32()),
            })

    ann = spark.read.parquet(f"{fdir}/annotated.parquet")
    return ann.mapInArrow(parse, "doc_id bigint, clean_len int, n_spans int")


# ------------------------------------------- round-5 batch: attribution,
# ------------------------------------------- crawl scheduling, anomaly ----

ATTR_LOOKBACK_US = 24 * 3600 * 1_000_000   # last-touch lookback window
_DAY_US = 86_400_000_000
ANOM_DAY = 19_725     # 2024-01-03 — inside the 30-day events span
ANOM_EXTRA = 400      # planted burst size (trips 2-sigma at every sf)
REVISIT_SNAPS = 4     # synthesized crawl snapshots per page


@reg("evt_attribution",
     f"""WITH e AS (
       SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       FROM events),
     t AS (
       SELECT *, CASE WHEN event_type IN ('view', 'click') THEN
                 lpad(CAST(us AS VARCHAR), 20, '0') || '|' ||
                 lpad(CAST(event_id AS VARCHAR), 10, '0') || '|' ||
                 event_type END AS tkey
       FROM e),
     w AS (
       SELECT user_id, event_id, event_type, us,
              max(tkey) OVER (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN {ATTR_LOOKBACK_US} PRECEDING
                          AND CURRENT ROW) AS lk,
              min(tkey) OVER (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS fk
       FROM t)
     SELECT event_id AS conv_id, user_id, us AS conv_us,
            coalesce(substr(lk, 33), 'none') AS last_ch,
            CASE WHEN lk IS NOT NULL
                 THEN us - CAST(substr(lk, 1, 20) AS BIGINT)
            END AS last_gap_us,
            coalesce(substr(fk, 33), 'none') AS first_ch
     FROM w WHERE event_type = 'purchase'""")
def evt_attribution(spark, sf):
    """Conversion attribution — the marketing-analytics staple: every
    purchase is credited to its LAST view/click touch within a 24h
    lookback (recency rule) and to the user's FIRST touch ever
    (discovery rule), in one pass. The trick is the lpad total-order
    key (the graph_path min-key idiom): a touch encodes as
    zero-padded-us|zero-padded-event_id|channel, so a plain max/min
    over a RANGE frame IS argmax-by-recency — no self-join, no lateral,
    and ties at the same microsecond break on event_id identically in
    both engines. Purchases carry a NULL key, so max() skips them and a
    conversion can never attribute to itself.

    Scale shape: one hash-partition shuffle on user_id + one
    per-partition sort shared by both window frames — the evt_sessionize
    plan, unchanged at 10^12 events (user histories are small; a
    pathological mega-user would salt by us-range first). The value-based
    RANGE frame keeps peers-at-equal-us deterministic where a ROWS frame
    would be partition-order-dependent."""
    e = _t(spark, sf, "events").select(
        "user_id", "event_id", "event_type",
        F.expr(_FUNNEL_US).alias("us"),
    )
    tkey = F.when(
        F.col("event_type").isin("view", "click"),
        F.concat(
            F.lpad(F.col("us").cast("string"), 20, "0"), F.lit("|"),
            F.lpad(F.col("event_id").cast("string"), 10, "0"), F.lit("|"),
            F.col("event_type"),
        ),
    )
    t = e.withColumn("tkey", tkey)
    base = Window.partitionBy("user_id").orderBy("us")
    w_last = base.rangeBetween(-ATTR_LOOKBACK_US, Window.currentRow)
    w_first = base.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        t.withColumn("lk", F.max("tkey").over(w_last))
        .withColumn("fk", F.min("tkey").over(w_first))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("conv_id"),
            "user_id",
            F.col("us").alias("conv_us"),
            F.coalesce(F.expr("substring(lk, 33)"), F.lit("none"))
            .alias("last_ch"),
            (F.col("us") - F.expr("substring(lk, 1, 20)").cast("bigint"))
            .alias("last_gap_us"),
            F.coalesce(F.expr("substring(fk, 33)"), F.lit("none"))
            .alias("first_ch"),
        )
    )


@reg("crawl_revisit",
     f"""WITH s AS (
       SELECT doc_id, text, unnest(range({REVISIT_SNAPS})) AS snap
       FROM documents),
     fp AS (
       SELECT doc_id, snap,
              md5(text || '|' || CAST(
                CASE WHEN doc_id % 3 = 0 THEN snap
                     WHEN doc_id % 3 = 1 THEN
                          CASE WHEN snap >= 2 THEN 1 ELSE 0 END
                     ELSE 0 END AS VARCHAR)) AS fp
       FROM s),
     d AS (
       SELECT doc_id, snap, fp,
              CASE WHEN lag(fp) OVER (PARTITION BY doc_id ORDER BY snap)
                        IS NOT NULL
                    AND fp <> lag(fp) OVER (PARTITION BY doc_id
                                            ORDER BY snap)
                   THEN 1 ELSE 0 END AS chg
       FROM fp),
     a AS (
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_snaps,
              CAST(sum(chg) AS BIGINT) AS n_changes
       FROM d GROUP BY doc_id)
     SELECT doc_id, n_snaps, n_changes,
            (n_changes * 1000000) // {REVISIT_SNAPS - 1} AS change_ppm,
            CAST(dense_rank() OVER (
              ORDER BY (n_changes * 1000000) // {REVISIT_SNAPS - 1} DESC)
              AS INT) AS tier
     FROM a""")
def crawl_revisit(spark, sf):
    """Crawl revisit scheduling — the freshness loop a Common-Crawl-style
    pipeline closes after the first full crawl: estimate each page's
    change rate from its snapshot history and tier pages so volatile ones
    are re-fetched first (the Cho-Garcia-Molina freshness policy, reduced
    to its deterministic core). Snapshots are synthesized in-query from
    the documents table (the planted-data idiom): one third of pages
    change every snapshot, one third changed exactly once, one third are
    static — so the tiers are non-vacuous and closed-form checkable.
    Change detection is md5-fingerprint inequality against lag() per
    page, the exact mechanism the incremental dedup tier (D10) uses for
    content identity.

    Scale shape: fingerprints never leave their page's partition (lag
    partitioned by doc_id); the per-page agg is map-side combinable; ppm
    is integer (multiply-through, floor-div — both operands non-negative
    so Spark div == DuckDB //). The global dense_rank runs on the
    PAGE-LEVEL aggregate with 3 distinct ppm values — at 10^12 pages the
    tier cut-points come from the ppm histogram (agg_histogram shape)
    broadcast as literals instead of a total-order window."""
    d = _t(spark, sf, "documents").select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.lit(REVISIT_SNAPS - 1)))
        .alias("snap"),
    )
    ver = (
        F.when(F.col("doc_id") % 3 == 0, F.col("snap"))
        .when(F.col("doc_id") % 3 == 1,
              F.when(F.col("snap") >= 2, F.lit(1)).otherwise(F.lit(0)))
        .otherwise(F.lit(0))
    )
    fp = d.select(
        "doc_id", "snap",
        F.md5(F.concat(F.col("text"), F.lit("|"), ver.cast("string"))
              .cast("binary")).alias("fp"),
    )
    w = Window.partitionBy("doc_id").orderBy("snap")
    chg = (
        F.when(
            F.lag("fp").over(w).isNotNull()
            & (F.col("fp") != F.lag("fp").over(w)),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    a = (
        fp.withColumn("chg", chg)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_snaps"),
            F.sum("chg").alias("n_changes"),
        )
    )
    ppm = F.expr(f"(n_changes * 1000000) div {REVISIT_SNAPS - 1}")
    return a.select(
        "doc_id", "n_snaps", "n_changes", ppm.alias("change_ppm"),
        F.dense_rank().over(Window.orderBy(ppm.desc())).cast("int")
        .alias("tier"),
    )


@reg("evt_anomaly",
     f"""WITH base AS (
       SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
              CAST(count(*) AS BIGINT) AS x
       FROM events GROUP BY 1, 2),
     planted AS (
       SELECT 'error' AS event_type, {ANOM_DAY} AS day,
              {ANOM_EXTRA} AS x),
     daily AS (
       SELECT event_type, day, CAST(sum(x) AS BIGINT) AS x
       FROM (SELECT * FROM base UNION ALL SELECT * FROM planted)
       GROUP BY 1, 2),
     stats AS (
       SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS s1,
              CAST(sum(x * x) AS BIGINT) AS s2
       FROM daily GROUP BY 1)
     SELECT d.event_type, d.day, d.x AS n_events,
            (s.n * d.x - s.s1) * (s.n * d.x - s.s1) AS dev2_n2,
            4 * (s.n * s.s2 - s.s1 * s.s1) AS thresh_n2,
            CAST((s.n * d.x - s.s1) * (s.n * d.x - s.s1)
                 > 4 * (s.n * s.s2 - s.s1 * s.s1) AS INT) AS is_anomaly
     FROM daily d JOIN stats s USING (event_type)""")
def evt_anomaly(spark, sf):
    """Daily-count anomaly flagging — the ops-monitoring staple: a day is
    anomalous for an event type when its count sits more than 2
    population-sigmas from that type's daily mean. The whole test is
    WHOLE-BIT INTEGER (the agg_moments discipline): |x − μ| > 2σ is
    multiplied through by n² into (n·x − s1)² > 4·(n·s2 − s1²), so no
    float, no division, no cross-engine ulp — bigint is exact here and
    the decimal(38,0) escape hatch applies past ~10^9 events/day (the
    agg_moments cents² note). A deterministic burst of {ANOM_EXTRA}
    'error' events is planted on day {ANOM_DAY} (in-query union, the
    dedup planting idiom) so the flag provably fires: the burst shifts
    the mean by ~{ANOM_EXTRA}·29/30² yet still clears 2σ of the
    inflated variance at every gate sf.

    Scale shape: the daily rollup is one map-side-combinable groupBy
    (day cardinality is tiny relative to events); stats is a 5-row
    aggregate that rides back as a broadcast join. No window, no sort —
    at 10^12 events this is two partial-agg shuffles and a broadcast."""
    e = _t(spark, sf, "events")
    base = (
        e.select(
            "event_type",
            F.expr(f"({_FUNNEL_US}) div {_DAY_US}").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    planted = spark.range(1).select(
        F.lit("error").alias("event_type"),
        F.lit(ANOM_DAY).cast("bigint").alias("day"),
        F.lit(ANOM_EXTRA).cast("bigint").alias("x"),
    )
    daily = (
        base.unionByName(planted)
        .groupBy("event_type", "day")
        .agg(F.sum("x").alias("x"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    dev = F.col("n") * F.col("x") - F.col("s1")
    thresh = F.lit(4) * (
        F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    )
    return j.select(
        "event_type", "day", F.col("x").alias("n_events"),
        (dev * dev).alias("dev2_n2"),
        thresh.alias("thresh_n2"),
        (dev * dev > thresh).cast("int").alias("is_anomaly"),
    )


@reg("evt_abtest",
     """WITH u AS (
       SELECT user_id, user_id % 2 AS arm,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS cnt
       FROM events GROUP BY 1, 2),
     c AS (
       SELECT arm,
              CASE WHEN arm = 1 AND user_id % 8 <= 5 THEN 1
                   ELSE cnt % 2 END AS converted
       FROM u),
     a AS (
       SELECT arm, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(converted) AS BIGINT) AS x
       FROM c GROUP BY arm),
     w AS (
       SELECT max(CASE WHEN arm = 0 THEN n END) AS n1,
              max(CASE WHEN arm = 0 THEN x END) AS x1,
              max(CASE WHEN arm = 1 THEN n END) AS n2,
              max(CASE WHEN arm = 1 THEN x END) AS x2
       FROM a)
     SELECT n1, x1, n2, x2,
            (x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1) * (n1 + n2)
              AS dev2_scaled,
            4 * (x1 + x2) * (n1 + n2 - x1 - x2) * n1 * n2 AS thresh_scaled,
            CAST((x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1) * (n1 + n2)
                 > 4 * (x1 + x2) * (n1 + n2 - x1 - x2) * n1 * n2 AS INT)
              AS significant
     FROM w""")
def evt_abtest(spark, sf):
    """Two-proportion A/B significance test — the experimentation staple
    next to T28's anomaly flag: users split into arms by user_id parity
    (the stand-in for a real assignment column) and the z > 2 test is
    evaluated ENTIRELY IN INTEGERS: multiplying
    (p1-p2)^2 > 4 * p(1-p) * (1/n1 + 1/n2) through by n1^2*n2^2*N gives
      (x1*n2 - x2*n1)^2 * N  >  4 * S * (N - S) * n1 * n2
    (S = x1+x2, N = n1+n2) — no float, no division, no cross-engine ulp
    (the evt_anomaly/agg_moments discipline; decimal(38,0) escape hatch
    past billions of users per arm). The naive outcome ("ever purchased")
    is DEGENERATE on this corpus — every user converts at every sf, p = 1
    and z is undefined — so the outcome is purchase-count PARITY (a
    scale-free ~50% baseline) with a planted treatment lift (3/4 of arm 1
    forced to convert), making the flag provably fire and both variance
    factors provably nonzero at every gate sf.

    Scale shape: per-user conversion is one map-side-combinable agg, the
    per-arm rollup is 2 rows, the test itself a 1-row select — at 10^12
    events this is exactly two partial-agg shuffles."""
    u = (
        _t(spark, sf, "events")
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("bigint"))
            .alias("cnt")
        )
    )
    c = u.select(
        "arm",
        F.when(
            (F.col("arm") == 1) & (F.col("user_id") % 8 <= 5), F.lit(1)
        ).otherwise(F.col("cnt") % 2).alias("converted"),
    )
    a = c.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    w = a.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x2"),
    )
    dev = F.col("x1") * F.col("n2") - F.col("x2") * F.col("n1")
    s = F.col("x1") + F.col("x2")
    n = F.col("n1") + F.col("n2")
    dev2 = dev * dev * n
    thresh = F.lit(4) * s * (n - s) * F.col("n1") * F.col("n2")
    return w.select(
        "n1", "x1", "n2", "x2",
        dev2.alias("dev2_scaled"),
        thresh.alias("thresh_scaled"),
        (dev2 > thresh).cast("int").alias("significant"),
    )


FORECAST_LAG_DAYS = 7   # seasonal-naive horizon: predict day d from d-7


@reg("evt_forecast",
     f"""WITH daily AS (
       SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
              CAST(count(*) AS BIGINT) AS x
       FROM events GROUP BY 1, 2),
     p AS (
       SELECT event_type, day, x,
              lag(x, {FORECAST_LAG_DAYS})
                OVER (PARTITION BY event_type ORDER BY day) AS pred
       FROM daily)
     SELECT event_type,
            CAST(count(pred) AS BIGINT) AS n_scored,
            CAST(sum(abs(x - pred)) AS BIGINT) AS sum_abs_err,
            CAST(sum(CASE WHEN pred IS NOT NULL THEN x END) AS BIGINT)
              AS sum_actual,
            CAST((1000000 * sum(abs(x - pred))
             - ((1000000 * sum(abs(x - pred)))
                % sum(CASE WHEN pred IS NOT NULL THEN x END)
                + sum(CASE WHEN pred IS NOT NULL THEN x END))
               % sum(CASE WHEN pred IS NOT NULL THEN x END))
            / sum(CASE WHEN pred IS NOT NULL THEN x END) AS BIGINT)
              AS wape_ppm
     FROM p GROUP BY event_type""")
def evt_forecast(spark, sf):
    """Seasonal-naive forecast backtest — the capacity-planning baseline
    every forecasting system is measured against (M-competition rule:
    beat the naive or stay home): predict each day's per-type count from
    the same weekday one week earlier, score WAPE = Σ|err|/Σactual over
    the scorable days, ENTIRELY IN INTEGERS (counts are ints; WAPE rides
    the ×10⁶ multiply-through + true-floor-division idiom, so no float
    and no cross-engine division semantics — the T23' transition-ppm
    discipline). Day boundaries = exact integer division of the
    microsecond epoch (the sessionize time base).

    Scale shape: one map-side-combinable daily rollup, one
    type-partitioned lag window over the DAY-LEVEL table (30 rows/type —
    model-sized regardless of event volume), one 5-row final agg. At
    10^12 events only the first rollup touches data."""
    daily = (
        _t(spark, sf, "events")
        .select(
            "event_type",
            F.expr(f"({_FUNNEL_US}) div {_DAY_US}").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    p = daily.withColumn("pred", F.lag("x", FORECAST_LAG_DAYS).over(w))
    err = F.abs(F.col("x") - F.col("pred"))
    act = F.when(F.col("pred").isNotNull(), F.col("x"))
    g = p.groupBy("event_type").agg(
        F.count("pred").alias("n_scored"),
        F.sum(err).alias("sum_abs_err"),
        F.sum(act).alias("sum_actual"),
    )
    num = F.lit(1_000_000) * F.col("sum_abs_err")
    den = F.col("sum_actual")
    wape = (num - F.pmod(num, den)) / den
    return g.select(
        "event_type", "n_scored", "sum_abs_err", "sum_actual",
        wape.cast("bigint").alias("wape_ppm"),
    )


@reg("fn_regexp",
     """SELECT doc_id,
            md5(regexp_replace(text, '[aeiou]', '*', 'g')) AS masked_fp,
            md5(array_to_string(
              regexp_extract_all(text, '[a-z]*a[a-z]*'), '|')) AS a_words_fp,
            CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
              AS n_vowel_runs,
            CAST(regexp_matches(text, '(^| )table( |$)') AS INT) AS has_table
     FROM documents""")
def fn_regexp(spark, sf):
    """F-family III: the regexp surface F1/F1b/F3 only touch in passing —
    global regexp_replace (Spark replaces ALL by default; DuckDB needs the
    explicit 'g' flag or it silently replaces FIRST — the cross-engine trap
    this key pins), regexp_extract_all (array result concat_ws'd to a
    string before hashing: array hashing is engine-private, strings are
    not), regexp_count == len(regexp_extract_all), and a word-boundary
    match. Patterns stay in the character-class + anchors subset where
    Java regex and RE2 provably agree; lookarounds and backreferences are
    OUT (RE2 has neither) — the documented dialect boundary.

    Scale shape: pure per-row JVM expressions, zero shuffle, zero Python;
    at 10^12 docs the only cost knob is regex complexity per byte."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace("text", "[aeiou]", "*").cast("binary"))
        .alias("masked_fp"),
        F.md5(
            F.concat_ws(
                "|", F.expr("regexp_extract_all(text, '[a-z]*a[a-z]*', 0)")
            ).cast("binary")
        ).alias("a_words_fp"),
        F.expr("regexp_count(text, '[aeiou]+')").cast("bigint")
        .alias("n_vowel_runs"),
        F.expr("regexp_like(text, '(^| )table( |$)')").cast("int")
        .alias("has_table"),
    )


@reg("agg_bool",
     """SELECT l_returnflag,
            CAST(count_if(l_quantity > 25) AS BIGINT) AS n_large,
            CAST(bool_and(l_quantity > 0) AS INT) AS all_positive,
            CAST(bool_or(l_discount > 0.09) AS INT) AS any_deep_discount,
            CAST(count_if(l_tax = 0) AS BIGINT) AS n_taxfree
     FROM lineitem GROUP BY l_returnflag""")
def agg_bool(spark, sf):
    """A-family boolean aggregates — the predicate-rollup surface the
    numeric aggs skip: count_if, bool_and (every), bool_or (any), all
    map-side combinable and named identically in both engines. Booleans
    are emitted as INT because the driver's value hash renders engine
    booleans differently (True vs true) — the same render rule as every
    flag column in this contract.

    Scale shape: one partial-agg shuffle keyed on the group column;
    predicates evaluate inside the scan's codegen stage."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_large"),
        F.bool_and(F.col("l_quantity") > 0).cast("int")
        .alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).cast("int")
        .alias("any_deep_discount"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
    )


@reg("fn_binary",
     """SELECT doc_id,
            base64(encode(substr(text, 1, 24))) AS b64_prefix,
            hex(substr(text, 1, 8)) AS hex_prefix,
            CAST(bit_length(text) AS BIGINT) AS n_bits,
            CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
     FROM documents""")
def fn_binary(spark, sf):
    """F-family IV: the binary-encoding surface — base64 (RFC 4648 with
    padding, identical in both engines), hex (uppercase A-F in both —
    probed, not assumed), bit_length / octet_length. The corpus is ASCII
    so encode() is byte-identity; a UTF-8 corpus would make octet_length
    diverge from char length, which is exactly what the column is for.

    Scale shape: pure per-row codegen projection, zero shuffle."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.base64(F.substring("text", 1, 24).cast("binary"))
        .alias("b64_prefix"),
        F.hex(F.substring("text", 1, 8).cast("binary")).alias("hex_prefix"),
        F.bit_length("text").cast("bigint").alias("n_bits"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )


# Markov power-iteration constants: integer mass like kg_pagerank. SCALE is
# sized so a term's product mass*n stays far inside int64 — mass <= 1e9 and
# a single transition-pair count would need to exceed 9.2e9 events to
# overflow (four orders past a 10^12-event-per-type-pair corpus slice).
MARKOV_SCALE = 10**9
MARKOV_ITERS = 3


def _markov_x0_values() -> list[tuple[str, int]]:
    return [(t, MARKOV_SCALE // len(EVENT_TYPES)) for t in EVENT_TYPES]


def _markov_sql() -> str:
    x0 = ", ".join(
        f"('{t}', CAST({m} AS BIGINT))" for t, m in _markov_x0_values()
    )
    steps = []
    prev = "x0"
    for i in range(1, MARKOV_ITERS + 1):
        steps.append(
            f"""x{i} AS (
        SELECT t.to_type AS state,
               CAST(sum(x.mass * t.n // t.tot) AS BIGINT) AS mass
        FROM tr t JOIN {prev} x ON x.state = t.from_type
        GROUP BY t.to_type)"""
        )
        prev = f"x{i}"
    chain = ",\n      ".join(steps)
    return f"""
      WITH p AS (
        SELECT lag(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events),
      c AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM p WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
      r AS (
        SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        FROM c GROUP BY from_type),
      tr AS (
        SELECT c.from_type, c.to_type, c.n, r.tot
        FROM c JOIN r USING (from_type)),
      x0(state, mass) AS (VALUES {x0}),
      {chain}
      SELECT state, mass,
             CAST(mass * 1000000 // (SELECT sum(mass) FROM {prev})
                  AS BIGINT) AS p_ppm
      FROM {prev} ORDER BY state
    """


@reg("evt_markov_stationary", _markov_sql())
def evt_markov_stationary(spark, sf):
    """Stationary distribution of the clickstream's first-order Markov
    chain (where does a long session SPEND its time) — the analytical
    closure of evt_transitions: build the same transition-count matrix,
    then power-iterate an integer mass vector from uniform for
    MARKOV_ITERS rounds. Every term floors identically in both engines
    ((mass·n) div tot, all nonnegative bigints), and integer sums are
    order-independent — so three rounds of matrix-vector product are
    bit-stable at any parallelism, the same discipline as the
    integer-mass PageRank.

    Scale shape: ONE shuffle pays for everything big (the lag window on
    user_id, shared with evt_transitions); after the pair rollup the
    chain lives in |types|² rows, so the iteration is model-sized —
    at 10^12 events the cost is the window, not the algebra. Dangling
    states (no outgoing edges) would leak mass by design; the event
    vocabulary is closed so each round conserves all but floor dust."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    c = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    r = c.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("tot"))
    tr = c.join(r, "from_type").persist()
    x = spark.createDataFrame(_markov_x0_values(), "state string, mass long")
    for _ in range(MARKOV_ITERS):
        x = (
            tr.join(x, tr["from_type"] == x["state"])
            .select(
                F.col("to_type").alias("state"),
                F.expr("mass * n div tot").alias("term"),
            )
            .groupBy("state")
            .agg(F.sum("term").cast("bigint").alias("mass"))
        )
    # the vector is |types| rows by here — the unpartitioned window is a
    # single model-sized partition, not a scale hazard
    total = F.sum("mass").over(Window.partitionBy())
    return (
        x.withColumn("total_mass", total)
        .select(
            "state", "mass",
            F.expr("(mass * 1000000) div total_mass").alias("p_ppm"),
        )
        .orderBy("state")
    )


# multiset reconciliation stride: small enough that every residual value
# class is populated at sf0.01, large enough that counts differ per value
SETOP_MOD = 97


@reg("setop_all",
     f"""WITH a AS (SELECT l_partkey % {SETOP_MOD} AS v FROM lineitem),
       b AS (SELECT p_partkey % {SETOP_MOD} AS v FROM part),
       ex AS (SELECT v FROM a EXCEPT ALL SELECT v FROM b),
       ia AS (SELECT v FROM a INTERSECT ALL SELECT v FROM b),
       exc AS (SELECT v, CAST(count(*) AS BIGINT) AS n_except
               FROM ex GROUP BY v),
       inc AS (SELECT v, CAST(count(*) AS BIGINT) AS n_intersect
               FROM ia GROUP BY v)
     SELECT COALESCE(exc.v, inc.v) AS v,
            CAST(COALESCE(exc.n_except, 0) AS BIGINT) AS n_except,
            CAST(COALESCE(inc.n_intersect, 0) AS BIGINT) AS n_intersect
     FROM exc FULL OUTER JOIN inc ON inc.v = exc.v
     ORDER BY v""")
def setop_all(spark, sf):
    """T4 multiset set-ops — EXCEPT ALL / INTERSECT ALL keep DUPLICITY,
    the bag semantics reconciliation needs (T2/T3's set forms answer
    'which values', these answer 'how many copies remain'): per residual
    class v, |A∸B| = max(n_a−n_b, 0) copies survive the except and
    min(n_a, n_b) the intersect. The full-outer recombination is itself
    the join_full surface in anger — values fully consumed by the except
    exist only on the intersect side.

    Scale shape: Spark plans exceptAll/intersectAll as a counted
    aggregate + generate (sum of signed multiplicities, then replicate),
    NOT a join of exploded duplicates — one shuffle keyed on the value,
    skew = the value distribution itself. The residual-class projection
    reaches both scans."""
    a = _t(spark, sf, "lineitem").select(
        (F.col("l_partkey") % SETOP_MOD).alias("v"))
    b = _t(spark, sf, "part").select(
        (F.col("p_partkey") % SETOP_MOD).alias("v"))
    exc = a.exceptAll(b).groupBy("v").agg(
        F.count(F.lit(1)).alias("n_except"))
    inc = a.intersectAll(b).groupBy("v").agg(
        F.count(F.lit(1)).alias("n_intersect"))
    return (
        exc.join(inc, "v", "full")
        .select(
            "v",
            F.coalesce("n_except", F.lit(0).cast("bigint"))
            .alias("n_except"),
            F.coalesce("n_intersect", F.lit(0).cast("bigint"))
            .alias("n_intersect"),
        )
        .orderBy("v")
    )


# ------------------------------------------- round-5d batch: interval join,
# null-safe join, column profiling ------------------------------------------

# Interval-overlap join bucket width, in days. The scale rule: pick the
# bucket near the MEDIAN interval length — shorter buckets explode the
# fanout of long intervals, longer buckets pack unrelated intervals into
# one bucket and push work into the post-join filter. Both gate sides
# have intervals <= 25 days, so 32 keeps every interval in <= 2 buckets.
INTERVAL_BUCKET_DAYS = 32
_US_PER_DAY = 86_400_000_000


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_lo: str = "a_lo",
    a_hi: str = "a_hi",
    b_lo: str = "b_lo",
    b_hi: str = "b_hi",
    bucket: int = INTERVAL_BUCKET_DAYS,
) -> DataFrame:
    """Scale-safe interval-overlap join: rows (a, b) where
    [a_lo, a_hi] ∩ [b_lo, b_hi] ≠ ∅ (closed integer intervals).

    A raw overlap theta-join plans BroadcastNestedLoopJoin — O(|A|·|B|)
    and interpreted, unusable past toy sizes. This is the standard
    bucketized formulation instead: each interval explodes to the coarse
    buckets it covers (F.sequence over lo div bucket .. hi div bucket),
    the join becomes an EQUI-join on the bucket id (hash-partitionable,
    AQE-skew-splittable), the exact overlap predicate filters the bucket
    cohabitants, and DISTINCT collapses pairs that met in several buckets.
    Cost is Σ_bucket |A_b|·|B_b| — bounded by the time-locality of the
    data instead of |A|·|B|; hot buckets (everything overlaps Christmas)
    are plain join skew, handled by AQE like any other hot key.

    Both inputs keep all their columns; the caller dedupes on its own
    pair identity (bucket multiplicity is at most
    ceil(len/bucket)+1 per side)."""
    ab = a.withColumn(
        "_bk",
        F.explode(F.expr(f"sequence({a_lo} div {bucket}, {a_hi} div {bucket})")),
    )
    bb = b.withColumn(
        "_bk",
        F.explode(F.expr(f"sequence({b_lo} div {bucket}, {b_hi} div {bucket})")),
    )
    return (
        ab.join(bb, "_bk")
        .filter((F.col(a_lo) <= F.col(b_hi)) & (F.col(b_lo) <= F.col(a_hi)))
        .drop("_bk")
    )


@reg("join_interval",
     """WITH a AS (
       SELECT o_orderkey,
              CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS a_lo,
              CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                + o_orderkey % 20 AS a_hi
       FROM orders WHERE o_orderkey % 17 = 0),
     b AS (
       SELECT n_nationkey,
              9131 + n_nationkey * 40 AS b_lo,
              9131 + n_nationkey * 40 + 25 AS b_hi
       FROM nation)
     SELECT n_nationkey,
            CAST(count(*) AS BIGINT) AS n_overlaps,
            CAST(sum(least(a_hi, b_hi) - greatest(a_lo, b_lo) + 1)
                 AS BIGINT) AS overlap_days
     FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
     GROUP BY 1 ORDER BY n_nationkey""")
def join_interval(spark, sf):
    """J11 interval-overlap join — order activity windows x nation
    promo windows, the temporal-join shape (valid-time KG facts, session
    x campaign, reservation conflicts) that equi-joins cannot express.
    The oracle runs the plain theta-join; this runs the bucketized
    equi-join plan (interval_overlap_join above) — value-hash equality
    IS the certificate that the bucket decomposition computes the exact
    theta-join pair set, duplicates collapsed, none dropped at bucket
    boundaries (intervals here straddle them by construction: lengths
    up to 25 vs bucket 32).

    Time base: exact integer epoch-days (unix_micros div 86_400_000_000
    — the sessionize discipline; TPC-H dates are all post-1970 so the
    floor-vs-truncate div distinction never fires). 9131 = epoch day of
    1995-01-01, planting the 25 nation windows mid-corpus so every one
    genuinely overlaps orders."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 17 == 0)
    # o_orderdate is TIMESTAMP_NTZ: unix_micros() rejects it (the
    # sessionize lesson) — unix_date over the date part is the zone-free
    # exact epoch-day integer, == DuckDB's date subtraction.
    a = o.select(
        "o_orderkey",
        F.expr("unix_date(cast(o_orderdate as date))").alias("a_lo"),
        F.expr("unix_date(cast(o_orderdate as date))"
               " + o_orderkey % 20").alias("a_hi"),
    )
    n = _t(spark, sf, "nation")
    b = n.select(
        "n_nationkey",
        (F.lit(9131) + F.col("n_nationkey") * 40).alias("b_lo"),
        (F.lit(9131) + F.col("n_nationkey") * 40 + 25).alias("b_hi"),
    )
    pairs = (
        interval_overlap_join(a, b)
        .select(
            "o_orderkey", "n_nationkey",
            (F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo") + 1)
            .alias("ov"),
        )
        .distinct()  # pair identity: bucket multiplicity collapsed
    )
    return (
        pairs.groupBy("n_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum("ov").cast("bigint").alias("overlap_days"),
        )
        .orderBy("n_nationkey")
    )


@reg("join_nullsafe",
     """WITH neg AS (
       SELECT nullif(c_mktsegment, 'BUILDING') AS band,
              CAST(count(*) AS BIGINT) AS n_neg
       FROM customer WHERE c_acctbal < 0 GROUP BY 1),
     pos AS (
       SELECT nullif(c_mktsegment, 'BUILDING') AS band,
              CAST(count(*) AS BIGINT) AS n_pos
       FROM customer WHERE c_acctbal >= 0 GROUP BY 1)
     SELECT neg.band, n_neg, n_pos
     FROM neg JOIN pos ON neg.band IS NOT DISTINCT FROM pos.band
     ORDER BY neg.band NULLS FIRST""")
def join_nullsafe(spark, sf):
    """J12 null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    reconciliation-join companion to join_full for when the KEY ITSELF
    is nullable (unknown segment, unresolved entity): ordinary `=` drops
    every NULL-keyed row from both sides silently; `<=>` matches
    NULL to NULL exactly once. The BUILDING segment is nulled via
    nullif on both sides, so the NULL⟷NULL row surviving in the output
    (with both counts) is the certificate — under a plain equi-join the
    row vanishes and the hash changes.

    Scale shape: Spark plans `<=>` as a normal hash join (the key
    tuple's null bit participates in hashing), NOT a nested loop — same
    shuffle cost as `=`; the NULL key is one more (possibly hot) key,
    AQE-splittable like any other."""
    c = _t(spark, sf, "customer")
    band = F.expr("nullif(c_mktsegment, 'BUILDING')")
    neg = (
        c.filter(F.col("c_acctbal") < 0)
        .groupBy(band.alias("band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_neg"))
    )
    pos = (
        c.filter(F.col("c_acctbal") >= 0)
        .groupBy(band.alias("band_p"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pos"))
    )
    return (
        neg.join(pos, neg.band.eqNullSafe(pos.band_p))
        .select("band", "n_neg", "n_pos")
        .orderBy(F.col("band").asc_nulls_first())
    )


@reg("profile_table",
     """WITH t AS (SELECT o_custkey, nullif(o_orderstatus, 'P') AS st,
                          o_orderpriority, o_orderdate FROM orders),
     n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM t)
     SELECT 'o_custkey' AS col_name, n_rows,
            n_rows - CAST(count(o_custkey) AS BIGINT) AS n_null,
            CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
            CAST(min(o_custkey) AS VARCHAR) AS min_s,
            CAST(max(o_custkey) AS VARCHAR) AS max_s
     FROM t, n GROUP BY n_rows
     UNION ALL
     SELECT 'o_orderstatus', n_rows,
            n_rows - CAST(count(st) AS BIGINT),
            CAST(count(DISTINCT st) AS BIGINT),
            min(st), max(st)
     FROM t, n GROUP BY n_rows
     UNION ALL
     SELECT 'o_orderpriority', n_rows,
            n_rows - CAST(count(o_orderpriority) AS BIGINT),
            CAST(count(DISTINCT o_orderpriority) AS BIGINT),
            min(o_orderpriority), max(o_orderpriority)
     FROM t, n GROUP BY n_rows
     UNION ALL
     SELECT 'o_orderdate', n_rows,
            n_rows - CAST(count(o_orderdate) AS BIGINT),
            CAST(count(DISTINCT o_orderdate) AS BIGINT),
            strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
            strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
     FROM t, n GROUP BY n_rows
     ORDER BY col_name""")
def profile_table(spark, sf):
    """P5 column profiling — the data-quality pass every ingest runs
    before trusting a new snapshot (null rates, cardinalities, ranges
    per column; schema-drift alarms diff two of these tables). ONE scan
    computes every per-column statistic as sibling aggregates (count /
    count-distinct / min / max per column), then the single result row
    unnests to long form driver-free via explode of a struct array —
    the unpivot trick, no second job, no per-column scans. o_orderstatus
    is nulled on 'P' via nullif so the null-counting path is live, not
    vacuously zero.

    Scale shape: the only shuffle is the aggregate itself; the N
    count-distincts make Catalyst plan an Expand (N× the scan rows
    map-side, standard multi-distinct) — at 10^12 rows you swap exact
    distinct for approx_count_distinct per column, which collapses the
    Expand into one mergeable-sketch pass (the agg_approx_distinct
    precedent). min/max render as strings so one profile schema fits
    every column type cross-engine."""
    t = _t(spark, sf, "orders").select(
        "o_custkey",
        F.expr("nullif(o_orderstatus, 'P')").alias("st"),
        "o_orderpriority",
        "o_orderdate",
    )
    row = t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("string").alias("mn_ck"),
        F.max("o_custkey").cast("string").alias("mx_ck"),
        F.count("st").alias("nn_st"),
        F.countDistinct("st").alias("nd_st"),
        F.min("st").alias("mn_st"),
        F.max("st").alias("mx_st"),
        F.count("o_orderpriority").alias("nn_pr"),
        F.countDistinct("o_orderpriority").alias("nd_pr"),
        F.min("o_orderpriority").alias("mn_pr"),
        F.max("o_orderpriority").alias("mx_pr"),
        F.count("o_orderdate").alias("nn_dt"),
        F.countDistinct("o_orderdate").alias("nd_dt"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .alias("mn_dt"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .alias("mx_dt"),
    )

    def _prof(name, nn, nd, mn, mx):
        return F.struct(
            F.lit(name).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(nn)).alias("n_null"),
            F.col(nd).alias("n_distinct"),
            F.col(mn).alias("min_s"),
            F.col(mx).alias("max_s"),
        )

    return (
        row.select(
            F.explode(
                F.array(
                    _prof("o_custkey", "nn_ck", "nd_ck", "mn_ck", "mx_ck"),
                    _prof("o_orderstatus", "nn_st", "nd_st", "mn_st", "mx_st"),
                    _prof("o_orderpriority", "nn_pr", "nd_pr",
                          "mn_pr", "mx_pr"),
                    _prof("o_orderdate", "nn_dt", "nd_dt", "mn_dt", "mx_dt"),
                )
            ).alias("p")
        )
        .select("p.*")
        .orderBy("col_name")
    )


@reg("qa_expectations",
    """WITH dirty AS (
       SELECT CASE WHEN o_orderkey % 97 = 3 THEN NULL
                   ELSE o_custkey END AS custkey,
              CASE WHEN o_orderkey % 89 = 5 THEN -o_totalprice
                   ELSE o_totalprice END AS totalprice,
              CASE WHEN o_orderkey % 83 = 7 THEN 'X'
                   ELSE o_orderstatus END AS status,
              CASE WHEN o_orderkey % 79 = 11 THEN 'URGENT'
                   ELSE o_orderpriority END AS priority,
              o_orderkey AS orderkey
       FROM orders
       UNION ALL
       SELECT o_custkey, o_totalprice, o_orderstatus, o_orderpriority,
              o_orderkey
       FROM orders WHERE o_orderkey % 101 = 13),
     agg AS (
       SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN custkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS v_null,
              CAST(sum(CASE WHEN totalprice < 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS v_range,
              CAST(sum(CASE WHEN status NOT IN ('O', 'F', 'P')
                            THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
              CAST(sum(CASE WHEN NOT regexp_matches(priority,
                                                    '^[1-5]-')
                            THEN 1 ELSE 0 END) AS BIGINT) AS v_re,
              CAST(count(*) - count(DISTINCT orderkey) AS BIGINT)
                AS v_uniq
       FROM dirty)
     SELECT exp_name, n_checked, n_violations FROM (
       SELECT 'not_null:o_custkey' AS exp_name, n_rows AS n_checked,
              v_null AS n_violations FROM agg
       UNION ALL SELECT 'range:o_totalprice>=0', n_rows, v_range
       FROM agg
       UNION ALL SELECT 'in_set:o_orderstatus', n_rows, v_set FROM agg
       UNION ALL SELECT 'regexp:o_orderpriority', n_rows, v_re FROM agg
       UNION ALL SELECT 'unique:o_orderkey', n_rows, v_uniq FROM agg) u
    """)
def qa_expectations(spark, sf):
    """P6 declared-expectation checks — the quality GATE that follows
    P5's profile (Great-Expectations/dbt-test shape): not-null, range,
    value-set, regexp, and uniqueness expectations evaluated in one
    pass, emitting (expectation, n_checked, n_violations) — the table
    an ingest publishes next to a snapshot and alerts on. Violations
    are PLANTED in-query (nulled custkeys, negated prices, a bogus
    status, a dash-less priority, duplicated keys — each on its own
    co-prime residue class) so every check is live, with closed-form
    expected counts pytest-pinned.

    Scale shape: the four row-local expectations are sibling
    conditional aggregates on ONE scan (the profile_table discipline —
    no per-expectation jobs); uniqueness rides the same aggregate as
    count(*) − count(DISTINCT key) (one Expand, the multi-distinct
    plan); the 5-row long form unnests driver-free via stack. At 10^12
    rows uniqueness swaps to the HLL sketch (profile_table's documented
    exact→approx trade) or a bucketed pre-aggregation on the key."""
    o = _t(spark, sf, "orders")
    dirty = o.select(
        F.when(F.col("o_orderkey") % 97 == 3, F.lit(None))
        .otherwise(F.col("o_custkey")).alias("custkey"),
        F.when(F.col("o_orderkey") % 89 == 5, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice")).alias("totalprice"),
        F.when(F.col("o_orderkey") % 83 == 7, F.lit("X"))
        .otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(F.col("o_orderkey") % 79 == 11, F.lit("URGENT"))
        .otherwise(F.col("o_orderpriority")).alias("priority"),
        F.col("o_orderkey").alias("orderkey"),
    ).unionAll(
        o.filter(F.col("o_orderkey") % 101 == 13).select(
            "o_custkey", "o_totalprice", "o_orderstatus",
            "o_orderpriority", "o_orderkey",
        )
    )
    agg = dirty.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("custkey").isNull(), 1).otherwise(0))
        .cast("bigint").alias("v_null"),
        F.sum(F.when(F.col("totalprice") < 0, 1).otherwise(0))
        .cast("bigint").alias("v_range"),
        F.sum(F.when(~F.col("status").isin("O", "F", "P"), 1)
              .otherwise(0)).cast("bigint").alias("v_set"),
        F.sum(F.when(~F.col("priority").rlike("^[1-5]-"), 1)
              .otherwise(0)).cast("bigint").alias("v_re"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("orderkey")))
        .cast("bigint").alias("v_uniq"),
    )
    return agg.select(
        F.expr(
            "stack(5,"
            " 'not_null:o_custkey', v_null,"
            " 'range:o_totalprice>=0', v_range,"
            " 'in_set:o_orderstatus', v_set,"
            " 'regexp:o_orderpriority', v_re,"
            " 'unique:o_orderkey', v_uniq)"
            " AS (exp_name, n_violations)"
        ),
        F.col("n_rows").alias("n_checked"),
    ).select("exp_name", "n_checked", "n_violations")


@reg("agg_mode",
     """WITH cnt AS (
       SELECT lang, source, CAST(count(*) AS BIGINT) AS n
       FROM documents GROUP BY 1, 2),
     mx AS (SELECT lang, max(n) AS n FROM cnt GROUP BY 1)
     SELECT cnt.lang, min(cnt.source) AS mode_source, mx.n AS n_mode
     FROM cnt JOIN mx ON cnt.lang = mx.lang AND cnt.n = mx.n
     GROUP BY cnt.lang, mx.n ORDER BY cnt.lang""")
def agg_mode(spark, sf):
    """A14 per-group mode — the most frequent value per group with a
    DETERMINISTIC tie-break (max count, then lexicographic-min value —
    the kg_fusion two-stage-argmax discipline: engine arg_max/mode
    builtins have engine-private tie rules, so the portable spelling is
    two rollups + a join back). Scale shape: the (group, value) count is
    the only data-sized shuffle (map-side combinable); everything after
    runs at distinct-pair size. A group whose values are all unique
    degenerates to 'min value at count 1' — still deterministic."""
    d = _t(spark, sf, "documents")
    cnt = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"))
    mx = cnt.groupBy("lang").agg(F.max("n").alias("n"))
    return (
        cnt.join(mx, ["lang", "n"])
        .groupBy("lang", "n")
        .agg(F.min("source").alias("mode_source"))
        .select("lang", "mode_source", F.col("n").alias("n_mode"))
        .orderBy("lang")
    )


@reg("evt_scd2",
     """WITH o AS (
       SELECT user_id, event_type, ts,
              lag(event_type) OVER w AS prev_type
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
     chg AS (
       SELECT user_id, event_type AS attr, ts
       FROM o WHERE prev_type IS NULL OR prev_type <> event_type),
     v AS (
       SELECT user_id, attr,
              strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
              strftime(lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, attr),
                       '%Y-%m-%d %H:%M:%S') AS valid_to
       FROM chg)
     SELECT user_id, attr, valid_from,
            coalesce(valid_to, '9999-12-31 00:00:00') AS valid_to,
            CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
              AS is_current
     FROM v""")
def evt_scd2(spark, sf):
    """T31' slowly-changing-dimension type-2 build — the lakehouse
    dimension-history staple: collapse each user's event stream into
    versioned attribute rows (attr = event_type as the tracked column)
    with [valid_from, valid_to) intervals and an is_current flag. The
    change-point detection is one lag() over (user, ts, event_id) — the
    event_id tiebreak makes equal-timestamp streams deterministic in
    both engines — and the interval close is one lead() over the
    surviving change rows; the open interval coalesces to the sentinel
    high date, the convention downstream as-of joins (evt_asof) expect.

    Scale shape: two window passes over the SAME (user_id) hash
    partitioning — Catalyst reuses one Exchange; no self-join, no
    driver state. Per-user history length bounds window memory, and a
    user's whole history lives in one partition — exactly how an SCD2
    MERGE lands on a real lakehouse table (kg_apply_delta is the write
    side of this read-side build)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = _t(spark, sf, "events").select(
        "user_id", "event_type", "ts",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    chg = o.filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", F.col("event_type").alias("attr"), "ts")
    # (ts, attr) is a total order on a user's change rows: two changes at
    # one timestamp necessarily carry different attrs, so lead() is
    # deterministic in both engines even on tied-timestamp streams.
    w2 = Window.partitionBy("user_id").orderBy("ts", "attr")
    v = chg.select(
        "user_id", "attr",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w2), "yyyy-MM-dd HH:mm:ss")
        .alias("valid_to"),
    )
    return v.select(
        "user_id", "attr", "valid_from",
        F.coalesce("valid_to", F.lit("9999-12-31 00:00:00"))
        .alias("valid_to"),
        F.when(F.col("valid_to").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("int").alias("is_current"),
    )


@reg("evt_item_cooccur",
     """WITH ui AS (
       SELECT DISTINCT user_id, event_type FROM events),
     n AS (
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
       FROM ui GROUP BY 1),
     pair AS (
       SELECT a.event_type AS item_a, b.event_type AS item_b,
              CAST(count(*) AS BIGINT) AS n_both
       FROM ui a JOIN ui b
         ON a.user_id = b.user_id AND a.event_type < b.event_type
       GROUP BY 1, 2)
     SELECT p.item_a, p.item_b, p.n_both,
            na.n_users AS n_a, nb.n_users AS n_b,
            CAST(1000000 * p.n_both
                 // (na.n_users + nb.n_users - p.n_both) AS BIGINT)
              AS jaccard_ppm
     FROM pair p
     JOIN n na ON na.event_type = p.item_a
     JOIN n nb ON nb.event_type = p.item_b""")
def evt_item_cooccur(spark, sf):
    """T32' item–item co-occurrence similarity (bipartite projection) —
    the 'users who did A also did B' recommendation primitive: project
    the user→item bipartite graph onto items by joining a user's
    distinct item set against itself (a < b kills mirror+diagonal),
    then integer-ppm Jaccard from the per-item user counts. Floor
    division keeps both engines on the same integer — the dedup_minhash
    ppm discipline.

    Scale shape: the distinct(user, item) pass is one map-side-combined
    shuffle; the self-join fans out per-user as |items_u|² — bounded
    here by the event-type vocabulary, and in a general deployment by
    the same hot-key cap the ER self-joins use (cap items per user
    BEFORE pairing, kg_er_jaccard:1636 discipline), so a power user
    can't go quadratic. The n-counts join is model-sized (one row per
    item) and broadcasts."""
    ui = _t(spark, sf, "events").select("user_id", "event_type").distinct()
    n = ui.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))
    a = ui.select("user_id", F.col("event_type").alias("item_a"))
    b = ui.select("user_id", F.col("event_type").alias("item_b"))
    pair = (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    na = n.select(F.col("event_type").alias("item_a"),
                  F.col("n_users").alias("n_a"))
    nb = n.select(F.col("event_type").alias("item_b"),
                  F.col("n_users").alias("n_b"))
    return (
        pair.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a", "item_b", "n_both", "n_a", "n_b",
            # `div` = exact integral division: double-divide-then-cast
            # can round UP across an integer boundary where DuckDB's
            # integer `//` floors — the one-ulp cross-engine trap
            F.expr("(1000000 * n_both) div (n_a + n_b - n_both)")
            .cast("bigint").alias("jaccard_ppm"),
        )
    )


@reg("evt_concurrency",
     """WITH b AS (
       SELECT event_type, ts AS t, 1 AS d FROM events
       UNION ALL
       SELECT event_type, ts + INTERVAL 1 HOUR, -1 FROM events),
     net AS (
       SELECT event_type, t, CAST(sum(d) AS BIGINT) AS nd
       FROM b GROUP BY 1, 2),
     sweep AS (
       SELECT event_type, t,
              sum(nd) OVER (PARTITION BY event_type ORDER BY t) AS conc
       FROM net),
     mx AS (
       SELECT event_type, max(conc) AS peak FROM sweep GROUP BY 1)
     SELECT s.event_type, CAST(m.peak AS BIGINT) AS peak,
            strftime(min(s.t), '%Y-%m-%d %H:%M:%S') AS peak_ts
     FROM sweep s JOIN mx m
       ON m.event_type = s.event_type AND s.conc = m.peak
     GROUP BY 1, 2""")
def evt_concurrency(spark, sf):
    """T33' peak concurrency by sweep-line — 'how many 1-hour activity
    windows were open at once, per event type': each event contributes a
    half-open [ts, ts+1h) interval; +1/-1 boundary deltas are grouped
    per distinct timestamp (ends at t close BEFORE the cumsum is read at
    t, so the net delta per t encodes the half-open convention with no
    tie-ordering ambiguity inside the window frame — both engines sum
    the same per-t net), then one running sum per type gives the active
    count at every boundary and max() the peak. The earliest timestamp
    attaining the peak makes the answer a deterministic single row per
    type.

    Scale shape: the naive formulation is an interval self-join
    (O(n²) on a hot hour); the sweep is two map-side-combinable aggs +
    ONE window cumsum over (type)-hash partitions ordered by time —
    O(n log n) per partition, no join at all. This is the same
    boundary-delta trick the funnel/retention family avoids self-joins
    with, applied to interval counting."""
    ev = _t(spark, sf, "events")
    b = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("d")
    ).unionByName(ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("t"),
        F.lit(-1).alias("d"),
    ))
    net = b.groupBy("event_type", "t").agg(
        F.sum("d").cast("bigint").alias("nd"))
    w = (
        Window.partitionBy("event_type").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = net.select(
        "event_type", "t", F.sum("nd").over(w).alias("conc"))
    mx = sweep.groupBy("event_type").agg(F.max("conc").alias("peak"))
    return (
        sweep.join(F.broadcast(mx), "event_type")
        .filter(F.col("conc") == F.col("peak"))
        .groupBy("event_type", "peak")
        .agg(F.date_format(F.min("t"), "yyyy-MM-dd HH:mm:ss")
             .alias("peak_ts"))
        .select("event_type", F.col("peak").cast("bigint").alias("peak"),
                "peak_ts")
    )


EQUIDEPTH_BUCKETS = 8


@reg("agg_equidepth",
     f"""WITH r AS (
       SELECT l_extendedprice AS v,
              ntile({EQUIDEPTH_BUCKETS}) OVER (
                ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                AS bucket
       FROM lineitem)
     SELECT bucket, CAST(count(*) AS BIGINT) AS n,
            round(min(v), 2) AS lo, round(max(v), 2) AS hi
     FROM r GROUP BY bucket""")
def agg_equidepth(spark, sf):
    """A15 equi-depth histogram — the optimizer-statistics / data-skew
    diagnostic complement to A9's fixed-width histogram: ntile() assigns
    equal-POPULATION buckets (fixed-width buckets collapse on skewed
    values; equi-depth boundaries ARE the distribution), then per-bucket
    count + [lo, hi] value bounds. The ORDER BY carries (orderkey,
    linenumber) tiebreaks so tied prices land deterministically — the
    SQL-standard ntile remainder rule (first n%b buckets take one extra
    row) then agrees bit-for-bit across engines.

    Scale shape: ntile over an unpartitioned ORDER BY is a global sort —
    the honest cost of exact equi-depth; at 10^12 rows the production
    swap is approx_percentile boundaries (the agg_approx_percentile key)
    + one hash-agg bucketing pass against the broadcast boundary list.
    This key pins the exact semantics that approximation is judged
    against."""
    r = _t(spark, sf, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        F.ntile(EQUIDEPTH_BUCKETS).over(
            Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        ).alias("bucket"),
    )
    return r.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min("v"), 2).alias("lo"),
        F.round(F.max("v"), 2).alias("hi"),
    )


def _fn_zorder_sql():
    from mxsparkg.layout import zorder_key_sql

    z = zorder_key_sql("x", "y", bits=16)
    return f"""
      WITH d AS (
        SELECT l_orderkey, l_linenumber,
               l_partkey % 65536 AS x, l_suppkey % 65536 AS y
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, x, y, {z} AS z
      FROM d
    """


@reg("fn_zorder", _fn_zorder_sql())
def fn_zorder(spark, sf):
    """F11 Z-order (Morton) key — the data-skipping sort key for 2-D
    predicate pruning (see mxsparkg/layout.py:zorder_key for the layout
    rationale and the locality proof test). Certifies the 32-term
    shift/and/multiply interleave value-exactly against the identically
    generated DuckDB expression; whole-stage codegen end to end, zero
    shuffle (pure projection)."""
    from mxsparkg.layout import zorder_key

    d = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_partkey") % 65536).alias("x"),
        (F.col("l_suppkey") % 65536).alias("y"),
    )
    return d.select(
        "l_orderkey", "l_linenumber", "x", "y",
        zorder_key(F.col("x"), F.col("y"), bits=16).alias("z"),
    )


@reg("agg_stringagg",
     """SELECT lang,
            string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
            CAST(count(DISTINCT source) AS BIGINT) AS n_sources
     FROM documents GROUP BY lang""")
def agg_stringagg(spark, sf):
    """A16 deterministic string aggregation (listagg) — the 'show me the
    group's members as one cell' surface every report query uses. Naive
    collect_list order is partition-order-dependent (a hash-gate
    landmine); the portable spelling is collect_set → array_sort →
    concat_ws, which both engines express deterministically (DuckDB:
    string_agg DISTINCT ... ORDER BY). Output stays bounded because the
    member domain is a dimension; aggregating an UNBOUNDED value set
    into one string is the anti-pattern this key's shape warns against
    (cap with slice() after the sort at 10^12 rows)."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("source")))
        .alias("sources"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
    )


WAU_WINDOW_DAYS = 7


@reg("evt_wau",
     f"""WITH du AS (
       SELECT DISTINCT
              CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
              user_id
       FROM events),
     sp AS (
       SELECT du.day + o.off AS window_day, du.user_id
       FROM du, (SELECT unnest(range(0, {WAU_WINDOW_DAYS})) AS off) o),
     act AS (SELECT DISTINCT day FROM du)
     SELECT s.window_day AS day,
            CAST(count(DISTINCT s.user_id) AS BIGINT) AS wau
     FROM sp s JOIN act ON act.day = s.window_day
     GROUP BY 1""")
def evt_wau(spark, sf):
    """T38' trailing-window active users (WAU per day) — the retention
    dashboard's denominator, and a query famously awkward at scale
    because count_distinct over a sliding RANGE window is unsupported
    (and would hold per-row state): the scalable EXACT spelling is
    distinct (day, user) → explode each activity day into the
    {WAU_WINDOW_DAYS} window-days it contributes to → one distinct-count
    per window-day. Days outside the observed activity range (windows
    fed only by the explode tail) are clipped to observed days so both
    engines agree on the output domain.

    Scale shape: the distinct (day,user) pass is the only event-sized
    shuffle (map-side combined); the explode fans out x7 on the
    DAY-LEVEL table; the final count_distinct is the standard two-level
    partial agg. The window length multiplies day-table size, never
    event volume."""
    # ts is TIMESTAMP_NTZ: unix_micros() rejects it (the sessionize
    # lesson) — unix_date over the date part is the zone-free exact
    # epoch-day integer, == DuckDB's epoch_us // day for naive ts.
    du = (
        _t(spark, sf, "events")
        .select(
            F.expr("cast(unix_date(cast(ts as date)) as bigint)")
            .alias("day"),
            "user_id",
        )
        .distinct()
    )
    sp = du.select(
        "day", "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(WAU_WINDOW_DAYS - 1)))
        .alias("_off"),
    ).select((F.col("day") + F.col("_off")).alias("day"), "user_id")
    act = du.select("day").distinct()
    return (
        sp.join(F.broadcast(act), "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )


@reg("graph_reciprocity",
     """WITH flow AS (
       SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
       FROM lineitem l
       JOIN orders o ON o.o_orderkey = l.l_orderkey
       JOIN customer c ON c.c_custkey = o.o_custkey
       JOIN supplier s ON s.s_suppkey = l.l_suppkey
       WHERE c.c_nationkey != s.s_nationkey),
     r AS (
       SELECT CAST(count(*) AS BIGINT) AS n_edges,
              CAST(sum(CASE WHEN EXISTS (
                SELECT 1 FROM flow b
                WHERE b.src = flow.dst AND b.dst = flow.src)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_recip
       FROM flow)
     SELECT n_edges, n_recip,
            CAST((1000000 * n_recip) // n_edges AS BIGINT) AS recip_ppm
     FROM r""")
def graph_reciprocity(spark, sf):
    """G23 directed-graph reciprocity on the nation→nation trade-flow
    graph (customer nation buys from supplier nation, self-loops
    dropped): the share of directed edges whose reverse edge also exists
    — the standard directed-KG health metric (a claims graph where
    cites/cited_by never reciprocate vs a social graph at ~0.7). The
    reverse-edge test is a LEFT SEMI self-join on the swapped key pair —
    never EXISTS-per-row; integral div for the ppm.

    Scale shape: the flow derivation is two fact-sized equi-joins (the
    J2 shuffle shape) + one distinct at nation² size; the reciprocity
    join then runs on the DISTINCT edge list — graph-sized, not
    fact-sized. At a 10^9-edge directed KG the semi-join shuffles each
    edge once on the swapped key."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"),
                F.col("s_nationkey").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = flow.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = flow.join(rev, ["src", "dst"], "left_semi")
    n = flow.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nr = recip.agg(F.count(F.lit(1)).cast("bigint").alias("n_recip"))
    return (
        n.withColumn("_k", F.lit(1))
        .join(nr.withColumn("_k", F.lit(1)), "_k")
        .select(
            "n_edges", "n_recip",
            F.expr("(1000000 * n_recip) div n_edges").cast("bigint")
            .alias("recip_ppm"),
        )
    )


@reg("fn_rank_global",
     """SELECT p_partkey, p_name,
            CAST(row_number() OVER (ORDER BY p_name, p_partkey) AS BIGINT)
              AS rank
     FROM part""")
def fn_rank_global(spark, sf):
    """F12 scalable global rank — certifies mxsparkg.layout.
    prefix_sum_rank (range-partition + counted offsets + within-
    partition row_number; driver traffic = n_partitions longs) against
    the engine's own single-partition row_number oracle, value-exact on
    every row. This is the primitive the 10^12-row paths lean on
    wherever a global order is needed (dense entity ids in
    jobs/kg_tools.py, the sorted-neighborhood ER rank): a naive window
    ORDER BY moves ALL data to one partition — the WindowExec warning
    this key exists to retire. (p_name, p_partkey) is the total order."""
    from mxsparkg.layout import prefix_sum_rank

    p = _t(spark, sf, "part").select("p_partkey", "p_name")
    return prefix_sum_rank(p, ["p_name", "p_partkey"]).select(
        "p_partkey", "p_name", "rank")


@reg("graph_degree_hist",
     """WITH li AS (
       SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       WHERE l_orderkey % 50 = 0),
     e AS (
       SELECT DISTINCT a.p AS u, b.p AS v
       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
     deg AS (
       SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
       GROUP BY node)
     SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
     FROM deg GROUP BY deg""")
def graph_degree_hist(spark, sf):
    """G24 degree distribution — the first thing anyone plots about a
    graph, and the skew diagnostic every join-strategy decision in this
    repo reads (hub caps, salting thresholds, AQE skew splits all key
    off this table): exact per-node degree → count of nodes per degree
    value, on the sparsified co-purchase graph. Two map-side-combinable
    rollups; the histogram is |distinct degrees| rows — model-sized at
    any graph size (a 10^12-edge power-law graph has ~10^3 distinct
    degree values)."""
    from mxsparkg.graphquery import _copurchase_edges

    e = _copurchase_edges(spark, sf, order_mod=50)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    return deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"))


TRENDING_K = 3        # items surfaced per day


@reg("evt_trending",
     f"""WITH d AS (
       SELECT epoch_us(ts) // {_DAY_US} AS day,
              json_extract(props, '$.k')::INT AS item
       FROM events),
     c AS (
       SELECT day, item, CAST(count(*) AS BIGINT) AS n
       FROM d GROUP BY day, item)
     SELECT day, CAST(rnk AS INT) AS rnk, item, n
     FROM (
       SELECT day, item, n,
              row_number() OVER (PARTITION BY day
                                 ORDER BY n DESC, item) AS rnk
       FROM c)
     WHERE rnk <= {TRENDING_K}""")
def evt_trending(spark, sf):
    """T43' daily trending items — 'what is hot today', the leaderboard
    query every feed/search/ops dashboard runs: per-day top-K items
    (props.k) by event count, rank ties broken on item id so the board
    is deterministic in both engines. Day indices are exact integer
    division of the microsecond epoch (the evt_sessionize time base).

    Scale shape: the (day, item) count is ONE map-side-combinable
    shuffle over the events — the only input-sized pass; the rank window
    runs on the day×item table (model-sized: days × distinct items, not
    events), partitioned by day so per-partition state is one day's
    item census. At 10^12 events with an unbounded item vocabulary the
    count table itself is the txt_heavy_hitters regime — the MG
    candidate pass bounds it; here the vocabulary is the planning-table
    assumption (documented), matching every leaderboard deployment that
    counts on a bounded catalog."""
    e = _t(spark, sf, "events").select(
        F.expr(f"({_FUNNEL_US}) div {_DAY_US}").alias("day"),
        F.get_json_object("props", "$.k").cast("int").alias("item"),
    )
    c = e.groupBy("day", "item").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), "item")
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TRENDING_K)
        .select("day", "rnk", "item", "n")
    )


@reg("agg_corr",
     """WITH m AS (
       SELECT l_returnflag,
              CAST(count(*) AS HUGEINT) AS n,
              sum(CAST(l_quantity AS HUGEINT)) AS sq,
              sum(CAST(l_quantity AS HUGEINT)
                  * CAST(l_quantity AS HUGEINT)) AS sqq,
              sum(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sp,
              sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                  * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS spp,
              sum(CAST(l_quantity AS HUGEINT)
                  * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sqp
       FROM lineitem GROUP BY l_returnflag)
     SELECT l_returnflag, CAST(n AS BIGINT) AS n,
            round(CAST(n * sqp - sq * sp AS DOUBLE)
                  / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                         * CAST(n * spp - sp * sp AS DOUBLE)), 6)
              AS corr_qty_price,
            round(CAST(n * sqp - sq * sp AS DOUBLE)
                  / CAST(n * sqq - sq * sq AS DOUBLE), 6)
              AS slope_cents_per_qty
     FROM m ORDER BY l_returnflag""")
def agg_corr(spark, sf):
    """A10b full Pearson correlation — the variant agg_moments documents
    as needing the decimal-128 route (cents² sums cross bigint range):
    ALL six moments accumulate as Spark decimal(38,0) == DuckDB HUGEINT
    (bit-equal cross-engine, the graph_hits precedent), so the
    aggregation — the partition-order-dependent part — is exact whole-bit
    integers. Only the FINAL scalar assembly (two casts, one multiply,
    sqrt, divide, round) runs in doubles: every input is an exact
    integer and each IEEE op is correctly rounded, so both engines
    compute the identical double — float drift needs float ACCUMULATION,
    which never happens here. Emits corr and the regression slope per
    group. At 10^12 rows this is one map-side-combinable aggregate, the
    same cost as the built-in corr() with none of its ordering drift."""
    li = _t(spark, sf, "lineitem")
    q = F.col("l_quantity").cast("decimal(38,0)")
    p = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(q).alias("sq"),
        F.sum(q * q).alias("sqq"),
        F.sum(p).alias("sp"),
        F.sum(p * p).alias("spp"),
        F.sum(q * p).alias("sqp"),
    )
    num = (F.col("n") * F.col("sqp") - F.col("sq") * F.col("sp"))
    denq = (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq"))
    denp = (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp"))
    return (
        m.select(
            "l_returnflag",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                num.cast("double")
                / F.sqrt(denq.cast("double") * denp.cast("double")), 6
            ).alias("corr_qty_price"),
            F.round(num.cast("double") / denq.cast("double"), 6)
            .alias("slope_cents_per_qty"),
        )
        .orderBy("l_returnflag")
    )


@reg("evt_heatmap",
     f"""SELECT (epoch_us(ts) // {_DAY_US} + 4) % 7 AS dow,
            (epoch_us(ts) % {_DAY_US}) // 3600000000 AS hour,
            CAST(count(*) AS BIGINT) AS n,
            CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
     FROM events GROUP BY 1, 2""")
def evt_heatmap(spark, sf):
    """T44' day-of-week × hour activity heatmap — the ops-dashboard
    staple behind every 'when are users active' panel. Both axes are
    EXPLICIT integer arithmetic on the microsecond epoch (1970-01-01
    was a Thursday ⇒ dow = (epoch_days + 4) % 7, Sunday = 0): the
    built-in dayofweek()/dow() functions disagree across engines on
    both origin and locale, so neither is used. One map-side-combinable
    groupBy into a ≤168-cell table; the distinct-user count is the only
    real shuffle at 10^12 events and it is keyed on the cell."""
    e = _t(spark, sf, "events")
    return (
        e.select(F.expr(_FUNNEL_US).alias("_us"), "user_id")
        .select(
            F.expr(f"_us div {_DAY_US} + 4").alias("_d"),
            "_us",
            "user_id",
        )
        .select(
            F.expr("_d % 7").alias("dow"),
            F.expr(f"(_us % {_DAY_US}) div 3600000000").alias("hour"),
            "user_id",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@reg("agg_skew",
     """WITH m AS (
       SELECT l_returnflag,
              CAST(count(*) AS HUGEINT) AS n,
              sum(CAST(l_quantity AS HUGEINT)) AS s1,
              sum(CAST(l_quantity AS HUGEINT)
                  * CAST(l_quantity AS HUGEINT)) AS s2,
              sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)
                  * CAST(l_quantity AS HUGEINT)) AS s3,
              sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)
                  * CAST(l_quantity AS HUGEINT)
                  * CAST(l_quantity AS HUGEINT)) AS s4
       FROM lineitem GROUP BY l_returnflag)
     SELECT l_returnflag, CAST(n AS BIGINT) AS n,
            round(CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
                       AS DOUBLE)
                  / pow(CAST(n * s2 - s1 * s1 AS DOUBLE), 1.5), 6)
              AS skewness,
            round(CAST(n * n * n * s4 - 4 * n * n * s1 * s3
                       + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
                       AS DOUBLE)
                  / (CAST(n AS DOUBLE)
                     * pow(CAST(n * s2 - s1 * s1 AS DOUBLE), 2))
                  * CAST(n AS DOUBLE) - 3, 6) AS excess_kurtosis
     FROM m ORDER BY l_returnflag""")
def agg_skew(spark, sf):
    """A17 exact skewness / excess kurtosis — completing the moment
    family (A10 covariance, A16 Pearson) with the 3rd/4th central
    moments, the distribution-shape signals a profiler reports next to
    mean/stddev. Same discipline as agg_corr: ALL power sums accumulate
    as decimal(38,0)/HUGEINT exact integers, the central-moment
    expansions m3 = n³·M̄3 and m2 = n²·M̄2 are assembled IN exact
    integers (so g1 = m3/m2^1.5 and g2 = n·m4/m2² − 3 need no separate
    n powers), and only the final normalize (two casts, pow, divide,
    round) runs in correctly-rounded doubles on exact inputs — no float
    accumulation anywhere. Exactness envelope: the m4 assembly's
    n³·Σq⁴ / (Σq)⁴ terms reach 10^38 around n ≈ 10^8 rows PER GROUP for
    q ≤ 50 — far past every sf here, but a 10^12-row single group would
    pre-scale q (divide by a power of 2) or shard the group and merge
    raw power sums (they are plainly additive) before assembly. One
    map-side-combinable aggregate."""
    li = _t(spark, sf, "lineitem")
    q = F.col("l_quantity").cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m3 = (n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1)
    m2 = (n * s2 - s1 * s1)
    m4 = (n * n * n * s4 - 4 * n * n * s1 * s3
          + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1)
    nd = n.cast("double")
    return (
        m.select(
            "l_returnflag",
            n.cast("bigint").alias("n"),
            F.round(
                m3.cast("double") / F.pow(m2.cast("double"), 1.5), 6
            ).alias("skewness"),
            F.round(
                m4.cast("double") / (nd * F.pow(m2.cast("double"), 2)) * nd
                - 3, 6
            ).alias("excess_kurtosis"),
        )
        .orderBy("l_returnflag")
    )
