"""Geo/spatial operator family: cell-bucketed distance joins over point
data — the one big-data join shape the engine didn't cover yet.

Web-scale KG pipelines carry geo signals (page geotags, edit locations,
entity coordinates from infoboxes); the queries users run over them are
"what is near X" — a distance self-join and a k-nearest-neighbors probe.
At 10^12 points neither can be an all-pairs product: the scalable pattern
is GRID BUCKETING — assign every point to a fixed-size cell, probe only
the 3x3 neighborhood of each point's cell (sound whenever the distance
radius <= cell size), and let the equi-join on cell id shuffle-partition
the work. Sigma(|cell| * |3x3 probe|) is bounded by cell occupancy, never
by n^2; a skewed mega-cell (one city holding half the points) would ride
the same salted-join machinery as `join_salted` (mxsparkg/contract.py).

Cross-engine determinism: points are derived from the driver's events
table via the repo's md5 idiom (identical text in Spark and DuckDB), all
coordinates are INTEGER microdegrees, distances are exact integer
squared-euclidean (planar approximation — honest at the 0.3-degree radius
used here; production haversine would be a doubles epilogue on the same
bucketed candidate set), and every div runs on non-negative operands so
Spark's truncating `div` and DuckDB's flooring `//` agree.

No reference citation possible: /root/reference is an empty checkout
(SURVEY.md section 0); semantics follow the standard grid-file spatial
join (Patel & DeWitt, SIGMOD 1996 partition-based spatial merge family).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# World is a 40x40-degree region in integer microdegrees: at sf0.01's 10k
# events that is ~6 points per 1-degree cell — dense enough that the pair
# join and kNN probe return real neighborhoods, sparse enough that the
# oracle's identical bucketed join stays tiny.
GEO_WORLD_E6 = 40_000_001   # modulus: coordinates in [0, 40_000_000]
GEO_CELL_E6 = 1_000_000     # 1-degree grid cells
GEO_R_E6 = 300_000          # pair-join radius 0.3 deg (< cell ⇒ 3x3 sound)
# The pair join runs on its own RADIUS-MATCHED grid (cell = R): candidate
# rows scale with 9·cell²·density, so a 1-degree grid would feed the
# distance filter ~11x more candidates than the 0.3-degree one for the
# same (provably identical — see jobs/bench_geo.py) pair set. kNN and the
# density table keep the coarser 1-degree cell: kNN WANTS the bigger 3x3
# window (more candidates = closer true neighbors), and the density table
# is the human-scale planning view.
GEO_PAIR_CELL_E6 = 300_000
GEO_KNN_K = 3               # neighbors kept per point


def _points(spark: SparkSession, sf: str) -> DataFrame:
    """One synthetic point per event: md5-derived integer microdegree
    coordinates + grid cell. Column-for-column the CTE `pts` in the
    oracles below."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    h = F.md5(
        F.concat(F.col("event_id").cast("string"), F.lit(":geo"))
        .cast("binary")
    )
    pts = e.select(
        F.col("event_id").alias("pid"),
        (F.conv(F.substring(h, 1, 12), 16, 10).cast("long")
         % GEO_WORLD_E6).alias("lat_e6"),
        (F.conv(F.substring(h, 13, 12), 16, 10).cast("long")
         % GEO_WORLD_E6).alias("lon_e6"),
    )
    return pts.select(
        "pid", "lat_e6", "lon_e6",
        F.expr(f"lat_e6 div {GEO_CELL_E6}").alias("cell_y"),
        F.expr(f"lon_e6 div {GEO_CELL_E6}").alias("cell_x"),
    )


def _pts_cte(cell_e6: int = GEO_CELL_E6) -> str:
    return f"""pts AS (
  SELECT event_id AS pid,
         ('0x' || substr(md5(event_id::VARCHAR || ':geo'), 1, 12))::BIGINT
           % {GEO_WORLD_E6} AS lat_e6,
         ('0x' || substr(md5(event_id::VARCHAR || ':geo'), 13, 12))::BIGINT
           % {GEO_WORLD_E6} AS lon_e6
  FROM events),
cells AS (
  SELECT pid, lat_e6, lon_e6,
         lat_e6 // {cell_e6} AS cell_y,
         lon_e6 // {cell_e6} AS cell_x
  FROM pts)"""


_PTS_CTE = _pts_cte()

_OFFSETS_CTE = """offsets AS (
  SELECT dx.dx, dy.dy
  FROM (VALUES (-1), (0), (1)) dx(dx), (VALUES (-1), (0), (1)) dy(dy))"""


# ------------------------------------------------------- generic engine --

def _with_cells(pts: DataFrame, cell_e6: int) -> DataFrame:
    return pts.select(
        "pid", "lat_e6", "lon_e6",
        F.expr(f"lat_e6 div {cell_e6}").alias("cell_y"),
        F.expr(f"lon_e6 div {cell_e6}").alias("cell_x"),
    )


def _nbr_cells() -> Column:
    # the 3x3 neighborhood, defined ONCE: candidate_count must predict
    # exactly the window the probe join uses
    return F.explode(
        F.array(*[
            F.struct(
                (F.col("cell_x") + dx).alias("cell_x"),
                (F.col("cell_y") + dy).alias("cell_y"),
            )
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])
    )


def _probe_side(cells: DataFrame) -> DataFrame:
    return cells.select(
        F.col("pid").alias("pid_a"),
        F.col("lat_e6").alias("lat_a"),
        F.col("lon_e6").alias("lon_a"),
        _nbr_cells().alias("probe"),
    ).select("pid_a", "lat_a", "lon_a", "probe.cell_x", "probe.cell_y")


def _d2() -> Column:
    # built lazily: constructing Columns needs an active session
    return (
        (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b"))
        + (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b"))
    )


def distance_pairs(pts: DataFrame, cell_e6: int, r_e6: int) -> DataFrame:
    """All unordered pairs of `pts` (pid, lat_e6, lon_e6) within r_e6,
    via the 3x3 grid probe (requires r_e6 <= cell_e6 for completeness —
    asserted). Returns (pid_a, pid_b, dist2_e6) with pid_a < pid_b,
    each qualifying pair exactly once. The generic engine behind the
    geo_join_cell gate key and jobs/bench_geo.py's scale exercises."""
    assert r_e6 <= cell_e6, "3x3 probe incomplete when radius > cell"
    cells = _with_cells(pts, cell_e6)
    return (
        _probe_side(cells).join(
            cells.select(
                F.col("pid").alias("pid_b"),
                F.col("lat_e6").alias("lat_b"),
                F.col("lon_e6").alias("lon_b"),
                "cell_x", "cell_y",
            ),
            ["cell_x", "cell_y"],
        )
        .filter(F.col("pid_a") < F.col("pid_b"))
        .withColumn("dist2_e6", _d2())
        .filter(F.col("dist2_e6") <= r_e6 * r_e6)
        .select("pid_a", "pid_b", "dist2_e6")
    )


def candidate_count(pts: DataFrame, cell_e6: int) -> int:
    """Number of candidate rows the probe join would feed the distance
    filter at this cell size, computed ANALYTICALLY from the cell
    histogram (Σ over cells of n_c · Σ_{3x3 nbrs} n_nbr — including the
    cell itself) without running the join. This is the planning query a
    spatial engine runs over the GEO1 density table before picking a
    grid: a mega-cell's quadratic term shows up here as a number, not as
    a hung stage."""
    hist = (
        _with_cells(pts, cell_e6)
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = hist.select(
        F.col("n").alias("n_a"),
        _nbr_cells().alias("probe"),
    ).select("n_a", "probe.cell_x", "probe.cell_y")
    row = (
        probes.join(hist, ["cell_x", "cell_y"])
        .agg(F.sum(F.col("n_a") * F.col("n")).alias("cand"))
        .collect()[0]
    )
    return int(row.cand)


# ------------------------------------------------------------------ keys --

def geo_cell_assign(spark: SparkSession, sf: str) -> DataFrame:
    """GEO1 grid-cell density — the partitioning layer made visible: one
    row per occupied cell with its point count and bounding coordinates.
    One map-side-combined groupBy; at 10^12 points this is the planning
    table a spatial engine uses to pick cell size / detect mega-cells
    (the input to salting decisions)."""
    return (
        _points(spark, sf)
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("pid").alias("min_pid"),
            F.max("lat_e6").alias("max_lat_e6"),
            F.max("lon_e6").alias("max_lon_e6"),
        )
    )


def geo_cell_assign_sql() -> str:
    return f"""WITH {_PTS_CTE}
SELECT cell_x, cell_y,
       CAST(count(*) AS BIGINT) AS n_points,
       min(pid) AS min_pid,
       max(lat_e6) AS max_lat_e6,
       max(lon_e6) AS max_lon_e6
FROM cells GROUP BY cell_x, cell_y"""


def geo_join_cell(spark: SparkSession, sf: str) -> DataFrame:
    """GEO2 distance self-join — all unordered point pairs within
    GEO_R_E6, found by probing each left point's 3x3 cell neighborhood
    (sound because R <= CELL). Each qualifying pair surfaces EXACTLY once:
    left a probes b's actual cell, and the pid_a < pid_b guard kills the
    mirrored (b probes a) hit. The join is a plain equi-join on
    (cell_x, cell_y) — shuffle-partitioned by cell, broadcastable when
    one side is a small query set, salt-able when a cell is hot. The
    distance test is exact integer squared-euclidean microdegrees.
    Thin wrapper over distance_pairs — the generic engine shared with
    jobs/bench_geo.py's 10^6-point scale exercises."""
    pts = _points(spark, sf).select("pid", "lat_e6", "lon_e6")
    return distance_pairs(pts, GEO_PAIR_CELL_E6, GEO_R_E6)


def geo_join_cell_sql() -> str:
    return f"""WITH {_pts_cte(GEO_PAIR_CELL_E6)},
{_OFFSETS_CTE}
SELECT a.pid AS pid_a, b.pid AS pid_b,
       (a.lat_e6 - b.lat_e6) * (a.lat_e6 - b.lat_e6)
       + (a.lon_e6 - b.lon_e6) * (a.lon_e6 - b.lon_e6) AS dist2_e6
FROM cells a
JOIN offsets o ON TRUE
JOIN cells b
  ON b.cell_x = a.cell_x + o.dx AND b.cell_y = a.cell_y + o.dy
WHERE a.pid < b.pid
  AND (a.lat_e6 - b.lat_e6) * (a.lat_e6 - b.lat_e6)
      + (a.lon_e6 - b.lon_e6) * (a.lon_e6 - b.lon_e6)
      <= {GEO_R_E6}::BIGINT * {GEO_R_E6}"""


def geo_knn_cell(spark: SparkSession, sf: str) -> DataFrame:
    """GEO3 cell-bounded k-nearest-neighbors — for every point, its
    GEO_KNN_K nearest neighbors among the 3x3 cell neighborhood (the
    standard grid-probe approximate kNN: exact whenever the true k-th
    neighbor lies within one cell, which the GEO1 density table lets a
    planner verify). Candidates are the same bucketed equi-join as GEO2
    but directed (both (a,b) and (b,a) kept); ranking is one window over
    the candidate set, partitioned by point — per-partition state is the
    3x3 occupancy, never the corpus. Ties break on neighbor pid, so the
    result is deterministic in both engines."""
    cells = _with_cells(
        _points(spark, sf).select("pid", "lat_e6", "lon_e6"), GEO_CELL_E6
    )
    cand = (
        _probe_side(cells).join(
            cells.select(
                F.col("pid").alias("pid_b"),
                F.col("lat_e6").alias("lat_b"),
                F.col("lon_e6").alias("lon_b"),
                "cell_x", "cell_y",
            ),
            ["cell_x", "cell_y"],
        )
        .filter(F.col("pid_a") != F.col("pid_b"))
        .withColumn("dist2_e6", _d2())
    )
    w = Window.partitionBy("pid_a").orderBy("dist2_e6", "pid_b")
    return (
        cand.withColumn("k", F.row_number().over(w))
        .filter(F.col("k") <= GEO_KNN_K)
        .select("pid_a", "k", F.col("pid_b").alias("nbr"), "dist2_e6")
    )


def geo_knn_cell_sql() -> str:
    return f"""WITH {_PTS_CTE},
{_OFFSETS_CTE},
cand AS (
  SELECT a.pid AS pid_a, b.pid AS pid_b,
         (a.lat_e6 - b.lat_e6) * (a.lat_e6 - b.lat_e6)
         + (a.lon_e6 - b.lon_e6) * (a.lon_e6 - b.lon_e6) AS dist2_e6
  FROM cells a
  JOIN offsets o ON TRUE
  JOIN cells b
    ON b.cell_x = a.cell_x + o.dx AND b.cell_y = a.cell_y + o.dy
  WHERE a.pid <> b.pid)
SELECT pid_a, CAST(k AS INTEGER) AS k, pid_b AS nbr, dist2_e6
FROM (
  SELECT pid_a, pid_b, dist2_e6,
         row_number() OVER (PARTITION BY pid_a
                            ORDER BY dist2_e6, pid_b) AS k
  FROM cand)
WHERE k <= {GEO_KNN_K}"""


# Point-in-region: bounding boxes derived from the nation table (25
# regions), spans 1..3 degrees per axis — each box covers at most
# GEO_BBOX_MAX_CELLS cells per axis on the 1-degree grid, so the cover
# explode is a bounded constant, never data-dependent.
GEO_BBOX_MAX_SPAN = 3 * GEO_CELL_E6
GEO_BBOX_MAX_CELLS = GEO_BBOX_MAX_SPAN // GEO_CELL_E6 + 2  # span + partial ends


def geo_bbox_join(spark: SparkSession, sf: str) -> DataFrame:
    """GEO4 point-in-region join — the ASYMMETRIC spatial join beside
    GEO2's self-join: which points fall inside each region's bounding
    box (geofence hit-testing, reverse geocoding's first stage). The
    scalable pattern inverts GEO2's probe: each REGION explodes into the
    grid cells its box covers (bounded by the box's own size — at most
    GEO_BBOX_MAX_CELLS² cells here, a constant), the cell list equi-joins
    the points' cell, and the exact containment test filters the cell-
    level candidates. Work is Σ points-in-covered-cells — proportional
    to the answer's neighborhood, never |points| × |regions|; a hot
    region (continent-sized box) is bounded by its cell count, and a hot
    CELL rides the same salting story as GEO2. All integer; region
    boxes md5-derived from nation rows."""
    nat = spark.read.parquet(f"{sf}/nation.parquet")
    h1 = F.md5(F.concat(F.col("n_nationkey").cast("string"),
                        F.lit(":bbox1")).cast("binary"))
    h2 = F.md5(F.concat(F.col("n_nationkey").cast("string"),
                        F.lit(":bbox2")).cast("binary"))
    span = GEO_WORLD_E6 - GEO_BBOX_MAX_SPAN - 1
    regions = nat.select(
        F.col("n_nationkey").alias("region_id"),
        (F.conv(F.substring(h1, 1, 12), 16, 10).cast("long") % span)
        .alias("x0"),
        (F.conv(F.substring(h1, 13, 12), 16, 10).cast("long") % span)
        .alias("y0"),
        (F.conv(F.substring(h2, 1, 12), 16, 10).cast("long")
         % (GEO_BBOX_MAX_SPAN - GEO_CELL_E6 + 1) + GEO_CELL_E6)
        .alias("w"),
        (F.conv(F.substring(h2, 13, 12), 16, 10).cast("long")
         % (GEO_BBOX_MAX_SPAN - GEO_CELL_E6 + 1) + GEO_CELL_E6)
        .alias("h"),
    ).select(
        "region_id", "x0", "y0",
        (F.col("x0") + F.col("w")).alias("x1"),
        (F.col("y0") + F.col("h")).alias("y1"),
    )
    offs = list(range(GEO_BBOX_MAX_CELLS))
    cover = (
        regions
        .withColumn("oi", F.explode(F.array(*[F.lit(i) for i in offs])))
        .withColumn("oj", F.explode(F.array(*[F.lit(j) for j in offs])))
        .withColumn("cell_x", F.expr(f"x0 div {GEO_CELL_E6}") + F.col("oi"))
        .withColumn("cell_y", F.expr(f"y0 div {GEO_CELL_E6}") + F.col("oj"))
        .filter(
            (F.col("cell_x") <= F.expr(f"x1 div {GEO_CELL_E6}"))
            & (F.col("cell_y") <= F.expr(f"y1 div {GEO_CELL_E6}"))
        )
        .select("region_id", "x0", "y0", "x1", "y1", "cell_x", "cell_y")
    )
    pts = _points(spark, sf)  # carries cell_x/cell_y on the 1-degree grid
    return (
        pts.join(cover, ["cell_x", "cell_y"])
        .filter(
            (F.col("lon_e6") >= F.col("x0")) & (F.col("lon_e6") <= F.col("x1"))
            & (F.col("lat_e6") >= F.col("y0")) & (F.col("lat_e6") <= F.col("y1"))
        )
        .select("region_id", "pid", "lat_e6", "lon_e6")
    )


def geo_bbox_join_sql() -> str:
    offs = ", ".join(f"({i})" for i in range(GEO_BBOX_MAX_CELLS))
    span = GEO_WORLD_E6 - GEO_BBOX_MAX_SPAN - 1
    wmod = GEO_BBOX_MAX_SPAN - GEO_CELL_E6 + 1
    return f"""WITH {_PTS_CTE},
regions AS (
  SELECT n_nationkey AS region_id,
         ('0x' || substr(md5(n_nationkey::VARCHAR || ':bbox1'), 1, 12))
           ::BIGINT % {span} AS x0,
         ('0x' || substr(md5(n_nationkey::VARCHAR || ':bbox1'), 13, 12))
           ::BIGINT % {span} AS y0,
         ('0x' || substr(md5(n_nationkey::VARCHAR || ':bbox2'), 1, 12))
           ::BIGINT % {wmod} + {GEO_CELL_E6} AS w,
         ('0x' || substr(md5(n_nationkey::VARCHAR || ':bbox2'), 13, 12))
           ::BIGINT % {wmod} + {GEO_CELL_E6} AS h
  FROM nation),
boxes AS (
  SELECT region_id, x0, y0, x0 + w AS x1, y0 + h AS y1 FROM regions),
cover AS (
  SELECT b.region_id, b.x0, b.y0, b.x1, b.y1,
         b.x0 // {GEO_CELL_E6} + oi.i AS cell_x,
         b.y0 // {GEO_CELL_E6} + oj.j AS cell_y
  FROM boxes b, (VALUES {offs}) oi(i), (VALUES {offs}) oj(j)
  WHERE b.x0 // {GEO_CELL_E6} + oi.i <= b.x1 // {GEO_CELL_E6}
    AND b.y0 // {GEO_CELL_E6} + oj.j <= b.y1 // {GEO_CELL_E6})
SELECT c.region_id, p.pid, p.lat_e6, p.lon_e6
FROM cells p
JOIN cover c ON c.cell_x = p.cell_x AND c.cell_y = p.cell_y
WHERE p.lon_e6 >= c.x0 AND p.lon_e6 <= c.x1
  AND p.lat_e6 >= c.y0 AND p.lat_e6 <= c.y1"""


def geo_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "geo_cell_assign": geo_cell_assign,
        "geo_join_cell": geo_join_cell,
        "geo_knn_cell": geo_knn_cell,
        "geo_bbox_join": geo_bbox_join,
    }


def geo_oracle_sql() -> dict[str, str]:
    return {
        "geo_cell_assign": geo_cell_assign_sql(),
        "geo_join_cell": geo_join_cell_sql(),
        "geo_knn_cell": geo_knn_cell_sql(),
        "geo_bbox_join": geo_bbox_join_sql(),
    }
