"""Geospatial trip analytics — the reference's core domain ([R]
SURVEY.md §0.3: taxi-trip records with pickup/dropoff coordinates).

The fixture tables carry no lat/lon, so coordinates are DERIVED
deterministically from integer keys (pure integer arithmetic — exact
in both engines), then the classic trip ops run on top:

- ``geo_haversine_trip_distance``: great-circle leg distance between
  consecutive events per user (haversine), summed per user.  Each leg
  is quantized to integer metres before summation so the only float
  work is the per-leg trig, verified hash-stable at all three SFs.
- ``geo_grid_cell_density``: snap coordinates to a 1-degree grid and
  aggregate per cell — the spatial-precision-reduction anonymization
  op ([R]) expressed as integer floor-division, fully exact.

Scale notes (100 TB): both ops are single-shuffle.  The trip-distance
op is one window sort per user (same constraint as sessionization:
a user's events fit a partition; salt mega-users if not).  Grid
density is a partial+final hash aggregate on the cell key — cells are
a fixed 360x170 domain, so the final agg is tiny regardless of input
size; the top-k is TakeOrderedAndProject (per-task heaps, no global
sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import bigint, duck_components
from trip_data_pipeline_spark.operators.graph import connected_components
from trip_data_pipeline_spark.registry import op

CAT = "2.13 geo trip analytics"

# Derived coordinates: centi-degree integers from keys (exact in both
# engines; all operands non-negative so % semantics agree).
#   lat_centi in [0, 17000)  -> lat = lat_centi/100 - 85   in [-85, 85)
#   lon_centi in [0, 36000)  -> lon = lon_centi/100 - 180  in [-180, 180)
_LAT_CENTI = "((user_id * 7919 + event_id * 13) % 17000)"

_LON_CENTI = "((user_id * 104729 + event_id * 31) % 36000)"


def _with_coords(ev: DataFrame) -> DataFrame:
    return ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        (F.expr(_LAT_CENTI) / 100.0 - 85.0).alias("lat"),
        (F.expr(_LON_CENTI) / 100.0 - 180.0).alias("lon"),
    )


_HAVERSINE_M = (
    "2 * 6371000 * asin(sqrt("
    "  pow(sin(radians(lat - plat) / 2), 2)"
    "  + cos(radians(plat)) * cos(radians(lat))"
    "    * pow(sin(radians(lon - plon) / 2), 2)))"
)


@op(
    "geo_haversine_trip_distance",
    oracle=f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         {_LAT_CENTI} / 100.0 - 85.0  AS lat,
         {_LON_CENTI} / 100.0 - 180.0 AS lon
  FROM events
),
legs AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER w AS plat,
         lag(lon) OVER w AS plon
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_legs,
       CAST(sum(CAST(round({_HAVERSINE_M}) AS BIGINT)) AS BIGINT) AS total_m
FROM legs
WHERE plat IS NOT NULL
GROUP BY user_id
""",
    category=CAT,
)
def geo_haversine_trip_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user total great-circle distance over consecutive event
    'legs'.  Haversine on derived coordinates; each leg rounded to
    integer metres BEFORE the sum so aggregation is exact-integer
    (SURVEY.md §5.3 rule 1 taken to its limit)."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pts = _with_coords(load(spark, sf_dir, "events"))
    legs = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    leg_m = F.round(F.expr(_HAVERSINE_M)).cast("bigint")
    return legs.groupBy("user_id").agg(
        bigint(F.count(F.lit(1))).alias("n_legs"),
        bigint(F.sum(leg_m)).alias("total_m"),
    )


@op(
    "geo_grid_cell_density",
    oracle=f"""
WITH cells AS (
  SELECT ({_LAT_CENTI} // 100) - 85  AS cell_lat,
         ({_LON_CENTI} // 100) - 180 AS cell_lon,
         CAST(round(value * 100) AS BIGINT) AS val_cents
  FROM events
)
SELECT cell_lat, cell_lon,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(val_cents) / 100.0, 2) AS total_value
FROM cells
GROUP BY cell_lat, cell_lon
ORDER BY n_events DESC, cell_lat, cell_lon
LIMIT 20
""",
    category=CAT,
)
def geo_grid_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial-precision-reduction anonymization + density: floor-snap
    derived coordinates to 1-degree cells (integer // — exact), count
    and sum cents per cell, top-20 cells with a total tie-break."""
    ev = load(spark, sf_dir, "events").select(
        (F.expr(f"{_LAT_CENTI} div 100") - 85).alias("cell_lat"),
        (F.expr(f"{_LON_CENTI} div 100") - 180).alias("cell_lon"),
        F.round(F.col("value") * 100).cast("bigint").alias("val_cents"),
    )
    return (
        ev.groupBy("cell_lat", "cell_lon")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_events"),
            F.round(F.sum("val_cents") / 100.0, 2).alias("total_value"),
        )
        .orderBy(F.col("n_events").desc(), "cell_lat", "cell_lon")
        .limit(20)
    )


@op(
    "geo_trip_od_matrix",
    oracle=f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         {_LAT_CENTI} // 100 AS cell_lat,
         {_LON_CENTI} // 100 AS cell_lon
  FROM events
),
legs AS (
  SELECT user_id,
         lag(cell_lat) OVER w AS o_lat, lag(cell_lon) OVER w AS o_lon,
         cell_lat AS d_lat, cell_lon AS d_lon
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT CAST(o_lat AS BIGINT) AS o_lat, CAST(o_lon AS BIGINT) AS o_lon,
       CAST(d_lat AS BIGINT) AS d_lat, CAST(d_lon AS BIGINT) AS d_lon,
       CAST(count(*) AS BIGINT) AS n_trips
FROM legs WHERE o_lat IS NOT NULL
GROUP BY 1, 2, 3, 4
ORDER BY n_trips DESC, o_lat, o_lon, d_lat, d_lon
LIMIT 30
""",
    category=CAT,
)
def geo_trip_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix: consecutive events per user form
    trips between 1-degree grid cells; the top-30 (origin, destination)
    cell pairs by trip count — the classic city-flow rollup a trip
    pipeline publishes.

    Exactness: cells are pure integer arithmetic; ranking is integer
    counts with full integer tie-breaks.  Scale: one window sort per
    user (shared with the haversine op's partitioning), then a
    partial+final aggregate on the bounded cell-pair domain;
    TakeOrderedAndProject for the top-k."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pts = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr(_LAT_CENTI + " div 100").alias("cell_lat"),
        F.expr(_LON_CENTI + " div 100").alias("cell_lon"),
    )
    legs = pts.select(
        "user_id",
        F.lag("cell_lat").over(w).alias("o_lat"),
        F.lag("cell_lon").over(w).alias("o_lon"),
        F.col("cell_lat").alias("d_lat"),
        F.col("cell_lon").alias("d_lon"),
    ).filter(F.col("o_lat").isNotNull())
    return (
        legs.groupBy(
            bigint(F.col("o_lat")).alias("o_lat"),
            bigint(F.col("o_lon")).alias("o_lon"),
            bigint(F.col("d_lat")).alias("d_lat"),
            bigint(F.col("d_lon")).alias("d_lon"),
        )
        .agg(bigint(F.count(F.lit(1))).alias("n_trips"))
        .orderBy(
            F.col("n_trips").desc(), "o_lat", "o_lon", "d_lat", "d_lon"
        )
        .limit(30)
    )


def _dbscan_oracle() -> str:

    return f"""
WITH RECURSIVE
pts AS (SELECT {_LAT_CENTI} // 100 AS cl, {_LON_CENTI} // 100 AS co FROM events),
tot AS (SELECT count(*) AS t FROM pts),
cells AS (SELECT cl, co, count(*) AS cnt FROM pts GROUP BY 1, 2),
core AS (SELECT cl * 360 + co AS node, cl, co, cnt
         FROM cells, tot WHERE cnt * 61200 > 2 * t),
e0 AS (SELECT a.node AS src, b.node AS dst
       FROM core a JOIN core b
         ON abs(a.cl - b.cl) <= 1 AND abs(a.co - b.co) <= 1
        AND a.node <> b.node),
{duck_components('e0')}
SELECT CAST(COALESCE(comp.component, core.node) AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(core.cnt) AS BIGINT) AS n_points
FROM core LEFT JOIN comp ON comp.node = core.node
GROUP BY 1
"""


@op("geo_grid_density_cluster", oracle=_dbscan_oracle(), category=CAT)
def geo_grid_density_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (DBSCAN-lite) over the derived trip
    coordinates: cells whose point count exceeds 2x the uniform mean
    (cross-multiplied integer predicate — adapts to any SF with no
    float division) are 'core'; core cells adjacent in the
    8-neighborhood merge into clusters via the same pointer-jumping
    connected components the dedup pipeline uses; isolated core cells
    stay singleton clusters.

    Scale: the density pass is a partial+final aggregate onto the
    fixed 170x360 cell domain (tiny, whatever the input size); the
    neighbor join explodes each core cell into its <= 8 in-bounds
    neighbor ids and equi-joins on the neighbor id — never an all-pairs
    distance join (the DuckDB oracle can afford the abs-diff theta
    join because core cells are few; the Spark side uses the
    formulation that survives a dense grid).  Cell ids guard the
    domain bounds BEFORE encoding (cl*360+co is only bijective inside
    the domain — an unguarded co = -1 would alias the previous row's
    easternmost cell)."""

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        F.expr(f"{_LAT_CENTI} div 100").alias("cl"),
        F.expr(f"{_LON_CENTI} div 100").alias("co"),
    )
    cells = pts.groupBy("cl", "co").agg(F.count(F.lit(1)).alias("cnt"))
    tot = pts.agg(F.count(F.lit(1)).alias("t"))
    core = (
        cells.join(F.broadcast(tot))
        .filter(F.col("cnt") * 61200 > 2 * F.col("t"))
        .select((F.col("cl") * 360 + F.col("co")).alias("node"), "cl", "co", "cnt")
        .localCheckpoint()  # two consumers: edges (x2) and final agg
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dl).alias("dl"), F.lit(dc).alias("dc"))
            for dl in (-1, 0, 1)
            for dc in (-1, 0, 1)
            if not (dl == 0 and dc == 0)
        ]
    )
    nbrs = (
        core.select("node", "cl", "co", F.explode(offsets).alias("o"))
        .select(
            "node",
            (F.col("cl") + F.col("o.dl")).alias("ncl"),
            (F.col("co") + F.col("o.dc")).alias("nco"),
        )
        .filter(
            (F.col("ncl") >= 0) & (F.col("ncl") <= 169)
            & (F.col("nco") >= 0) & (F.col("nco") <= 359)
        )
        .select("node", (F.col("ncl") * 360 + F.col("nco")).alias("nbr"))
    )
    edges = nbrs.join(
        core.select(F.col("node").alias("nbr")), "nbr"
    ).select(F.col("node").alias("src"), F.col("nbr").alias("dst"))
    lab = connected_components(edges).withColumnRenamed("node", "lnode")
    return (
        core.join(lab, core.node == F.col("lnode"), "left")
        .select(
            F.coalesce(F.col("component"), F.col("node")).alias("cluster_id"),
            "cnt",
        )
        .groupBy("cluster_id")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_cells"),
            bigint(F.sum("cnt")).alias("n_points"),
        )
    )


# 8 fixed hubs in centi-degrees (the domain of geo._LAT/LON_CENTI)
_HUBS = [
    (2000, 4000), (4500, 9000), (7000, 14000), (9500, 19000),
    (12000, 24000), (14500, 29000), (16000, 33000), (1000, 35000),
]


def _hub_min_expr(lat: str, lon: str) -> str:
    """Encoded argmin over the 8 hubs: min(dist * 8 + hub_id) with
    exact integer squared centi-degree distances — deterministic ties
    (lower hub id wins).  Renders identically in Spark SQL and DuckDB.
    """
    terms = [
        f"(({lat} - {hl}) * ({lat} - {hl}) + ({lon} - {hn}) * ({lon} - {hn})) * 8 + {i}"
        for i, (hl, hn) in enumerate(_HUBS)
    ]
    return "least(" + ", ".join(terms) + ")"


@op(
    "geo_nearest_hub",
    oracle=f"""
WITH pts AS (
  SELECT ((user_id * 7919 + event_id * 13) % 17000) AS la,
         ((user_id * 104729 + event_id * 31) % 36000) AS lo
  FROM events
),
a AS (SELECT {_hub_min_expr('la', 'lo')} AS enc FROM pts)
SELECT CAST(enc % 8 AS BIGINT) AS hub,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(enc // 8) AS BIGINT) AS sum_d2,
       CAST(max(enc // 8) AS BIGINT) AS max_d2
FROM a GROUP BY hub
""",
    category=CAT,
)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment: every event point snaps to the closest
    of 8 fixed hubs (depots / zones) — the small-side spatial nearest
    join.  With a constant hub list the argmin unrolls into a fused
    least() over 8 exact integer squared distances (encoded dist*8+id
    so ties break deterministically by hub id): map-only, zero
    shuffle, no join at all — the shape to choose when the 'join'
    side fits in an expression, let alone a broadcast.  Per-hub load
    report is a tiny aggregate."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("((user_id * 7919 + event_id * 13) % 17000)").alias("la"),
        F.expr("((user_id * 104729 + event_id * 31) % 36000)").alias("lo"),
    )
    a = ev.select(F.expr(_hub_min_expr("la", "lo")).alias("enc"))
    return a.groupBy((F.col("enc") % 8).cast("bigint").alias("hub")).agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.expr("sum(enc div 8)")).alias("sum_d2"),
        bigint(F.expr("max(enc div 8)")).alias("max_d2"),
    )


@op(
    "geo_fence_dwell_time",
    oracle="""
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         ((user_id * 7919 + event_id * 13) % 17000) AS la,
         ((user_id * 104729 + event_id * 31) % 36000) AS lo
  FROM events
),
f AS (
  SELECT user_id, event_id, us,
         CASE WHEN la >= 4000 AND la < 9000
               AND lo >= 10000 AND lo < 20000 THEN 1 ELSE 0 END AS inf
  FROM p
),
m AS (
  SELECT user_id, event_id, us, inf,
         CASE WHEN inf = 1 AND coalesce(lag(inf) OVER w, 0) = 0
              THEN 1 ELSE 0 END AS entered
  FROM f
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
i AS (
  SELECT user_id, us, inf,
         sum(entered) OVER (PARTITION BY user_id ORDER BY us, event_id) AS visit
  FROM m
),
v AS (
  SELECT user_id, visit, count(*) AS n_ev,
         (max(us) - min(us)) // 1000000 AS dwell_s
  FROM i WHERE inf = 1 GROUP BY user_id, visit
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_visits,
       CAST(sum(n_ev) AS BIGINT) AS n_fence_events,
       CAST(sum(dwell_s) AS BIGINT) AS total_dwell_s,
       CAST(max(dwell_s) AS BIGINT) AS max_dwell_s
FROM v GROUP BY user_id
""",
    category=CAT,
)
def geo_fence_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-fence dwell analysis: islands of consecutive in-fence
    pings per user (enter events via lag, visit ids via a running sum
    — the gaps-and-islands idiom), then per-visit dwell spans and the
    per-user rollup a fleet/zone dashboard needs.  The fence test is
    pure integer centi-degree arithmetic; dwell is exact integer µs
    floor-divided to seconds.  Both windows and the final two
    aggregations ride ONE user-keyed shuffle."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("((user_id * 7919 + event_id * 13) % 17000)").alias("la"),
        F.expr("((user_id * 104729 + event_id * 31) % 36000)").alias("lo"),
    )
    inf = (
        (F.col("la") >= 4000)
        & (F.col("la") < 9000)
        & (F.col("lo") >= 10000)
        & (F.col("lo") < 20000)
    ).cast("int")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    f = ev.withColumn("inf", inf)
    entered = F.when(
        (F.col("inf") == 1) & (F.coalesce(F.lag("inf").over(w), F.lit(0)) == 0), 1
    ).otherwise(0)
    i = f.withColumn("visit", F.sum(entered).over(w)).filter(F.col("inf") == 1)
    v = i.groupBy("user_id", "visit").agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.expr("(max(us) - min(us)) div 1000000").alias("dwell_s"),
    )
    return v.groupBy("user_id").agg(
        bigint(F.count(F.lit(1))).alias("n_visits"),
        bigint(F.sum("n_ev")).alias("n_fence_events"),
        bigint(F.sum("dwell_s")).alias("total_dwell_s"),
        bigint(F.max("dwell_s")).alias("max_dwell_s"),
    )


@op(
    "geo_trip_speed_gate",
    oracle="""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         ((user_id * 7919 + event_id * 13) % 17000) / 100.0 - 85.0  AS lat,
         ((user_id * 104729 + event_id * 31) % 36000) / 100.0 - 180.0 AS lon
  FROM events
),
legs AS (
  SELECT user_id, lat, lon, us,
         lag(lat) OVER w AS plat,
         lag(lon) OVER w AS plon,
         lag(us)  OVER w AS pus
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sp AS (
  SELECT user_id,
         CAST(round(2 * 6371000 * asin(sqrt(
             pow(sin(radians(lat - plat) / 2), 2)
             + cos(radians(plat)) * cos(radians(lat))
               * pow(sin(radians(lon - plon) / 2), 2)))) AS BIGINT)
           * 1000000000 // (us - pus) AS mm_s
  FROM legs WHERE plat IS NOT NULL AND us > pus
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_legs,
       CAST(sum(CASE WHEN mm_s > 70000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_impossible,
       CAST(max(mm_s) AS BIGINT) AS max_mm_s
FROM sp GROUP BY user_id
""",
    category=CAT,
)
def geo_trip_speed_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physically-impossible-trip gate: implied speed of each
    consecutive leg per user (integer-metre haversine over derived
    coordinates, duration in exact microseconds), legs above 70 m/s
    (~250 km/h) flagged.  The classic GPS-noise / clock-skew data
    quality filter a trip pipeline runs before any distance-derived
    metric is trusted; speeds are integer mm/s (floor div) so the
    report is engine-exact.

    Scale: same single user-keyed window sort as the haversine op
    (geo.py), then a partial/final agg per user; zero-duration legs
    (timestamp ties) are excluded by us > pus in both engines."""

    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pts = _with_coords(load(spark, sf_dir, "events"))
    legs = pts.select(
        "user_id",
        "lat",
        "lon",
        "us",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        F.lag("us").over(w).alias("pus"),
    ).filter(F.col("plat").isNotNull() & (F.col("us") > F.col("pus")))
    leg_m = F.round(F.expr(_HAVERSINE_M)).cast("bigint")
    sp = legs.select(
        "user_id",
        (leg_m * F.lit(1000000000)).alias("mm"),
        (F.col("us") - F.col("pus")).alias("dt"),
    ).select("user_id", F.expr("mm div dt").alias("mm_s"))
    return sp.groupBy("user_id").agg(
        bigint(F.count(F.lit(1))).alias("n_legs"),
        bigint(F.sum(F.when(F.col("mm_s") > 70000, 1).otherwise(0))).alias(
            "n_impossible"
        ),
        bigint(F.max("mm_s")).alias("max_mm_s"),
    )


@op(
    "geo_od_flow_imbalance",
    oracle="""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         ((user_id * 7919 + event_id * 13) % 17000) // 100 AS cell_lat,
         ((user_id * 104729 + event_id * 31) % 36000) // 100 AS cell_lon
  FROM events
),
legs AS (
  SELECT lag(cell_lat) OVER w AS o_lat, lag(cell_lon) OVER w AS o_lon,
         cell_lat AS d_lat, cell_lon AS d_lon
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
dep AS (
  SELECT o_lat AS lat, o_lon AS lon, count(*) AS departures
  FROM legs WHERE o_lat IS NOT NULL GROUP BY 1, 2
),
arr AS (
  SELECT d_lat AS lat, d_lon AS lon, count(*) AS arrivals
  FROM legs WHERE o_lat IS NOT NULL GROUP BY 1, 2
)
SELECT CAST(coalesce(dep.lat, arr.lat) AS BIGINT) AS lat,
       CAST(coalesce(dep.lon, arr.lon) AS BIGINT) AS lon,
       CAST(coalesce(departures, 0) AS BIGINT) AS departures,
       CAST(coalesce(arrivals, 0) AS BIGINT) AS arrivals,
       CAST(coalesce(arrivals, 0) - coalesce(departures, 0) AS BIGINT)
         AS net_inflow
FROM dep FULL OUTER JOIN arr ON dep.lat = arr.lat AND dep.lon = arr.lon
WHERE abs(coalesce(arrivals, 0) - coalesce(departures, 0)) >= 2
""",
    category=CAT,
)
def geo_od_flow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow imbalance per 1-degree grid cell:
    departures vs arrivals over consecutive-event trips, keeping cells
    with |net inflow| >= 2 — the rebalancing report (where do vehicles
    / riders accumulate) that complements the OD matrix's top flows.

    Scale: the same single user-keyed window as the OD matrix builds
    legs once; departures and arrivals are two cell-keyed partial/final
    aggs over it, recombined with a cell-keyed full outer join (both
    sides already cell-partitioned, grid domain is fixed 360x170 so
    the join is bounded)."""

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr(f"{_LAT_CENTI} div 100").alias("cell_lat"),
        F.expr(f"{_LON_CENTI} div 100").alias("cell_lon"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    legs = pts.select(
        F.lag("cell_lat").over(w).alias("o_lat"),
        F.lag("cell_lon").over(w).alias("o_lon"),
        F.col("cell_lat").alias("d_lat"),
        F.col("cell_lon").alias("d_lon"),
    ).filter(F.col("o_lat").isNotNull())
    dep = legs.groupBy(
        F.col("o_lat").alias("lat"), F.col("o_lon").alias("lon")
    ).agg(F.count(F.lit(1)).alias("departures"))
    arr = legs.groupBy(
        F.col("d_lat").alias("lat"), F.col("d_lon").alias("lon")
    ).agg(F.count(F.lit(1)).alias("arrivals"))
    j = dep.join(arr, ["lat", "lon"], "full_outer").select(
        "lat",
        "lon",
        F.coalesce("departures", F.lit(0)).alias("departures"),
        F.coalesce("arrivals", F.lit(0)).alias("arrivals"),
    )
    return (
        j.select(
            bigint(F.col("lat")).alias("lat"),
            bigint(F.col("lon")).alias("lon"),
            bigint(F.col("departures")).alias("departures"),
            bigint(F.col("arrivals")).alias("arrivals"),
            bigint(F.col("arrivals") - F.col("departures")).alias("net_inflow"),
        )
        .filter(F.abs(F.col("net_inflow")) >= 2)
    )


@op(
    "geo_colocation_pairs",
    oracle="""
WITH pts AS (
  SELECT DISTINCT user_id,
         ((user_id * 7919 + event_id * 13) % 17000) // 100 AS cell_lat,
         ((user_id * 104729 + event_id * 31) % 36000) // 100 AS cell_lon,
         epoch_us(ts) // 3600000000 AS hour_bucket
  FROM events
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(count(*) AS BIGINT) AS n_colocations,
       CAST(count(DISTINCT a.hour_bucket) AS BIGINT) AS n_distinct_hours
FROM pts a JOIN pts b
  ON a.cell_lat = b.cell_lat AND a.cell_lon = b.cell_lon
 AND a.hour_bucket = b.hour_bucket AND a.user_id < b.user_id
GROUP BY a.user_id, b.user_id
HAVING count(*) >= 3
""",
    category=CAT,
)
def geo_colocation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-location mining: user pairs repeatedly in the same 1-degree
    grid cell during the same hour (>= 3 co-occurrences) — the
    contact-graph / shared-ride-candidate analysis famous from taxi
    datasets, and the privacy-review query that shows WHY coordinate
    coarsening (geo_grid_cell_density's anonymization note) matters
    before publishing trips.

    Scale: self-join keyed on (cell, hour) — the spatiotemporal
    blocking that bounds pair formation to co-bucket groups exactly
    like the dedup band joins; DISTINCT first so a user's repeated
    pings in one cell-hour count once."""
    ev = load(spark, sf_dir, "events")

    pts = ev.select(
        "user_id",
        F.expr(f"{_LAT_CENTI} div 100").alias("cell_lat"),
        F.expr(f"{_LON_CENTI} div 100").alias("cell_lon"),
        F.expr("unix_micros(ts) div 3600000000").alias("hour_bucket"),
    ).distinct()
    a = pts.select(
        F.col("user_id").alias("user_a"), "cell_lat", "cell_lon", "hour_bucket"
    )
    b = pts.select(
        F.col("user_id").alias("user_b"), "cell_lat", "cell_lon", "hour_bucket"
    )
    return (
        a.join(b, ["cell_lat", "cell_lon", "hour_bucket"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_colocations"),
            bigint(F.countDistinct("hour_bucket")).alias("n_distinct_hours"),
        )
        .filter(F.col("n_colocations") >= 3)
    )


@op(
    "geo_trip_detour_ratio",
    oracle="""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         ((user_id * 7919 + event_id * 13) % 17000) / 100.0 - 85.0  AS lat,
         ((user_id * 104729 + event_id * 31) % 36000) / 100.0 - 180.0 AS lon
  FROM events
),
legs AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
         first_value(lat) OVER w AS flat, first_value(lon) OVER w AS flon,
         row_number() OVER (PARTITION BY user_id ORDER BY us DESC,
                            event_id DESC) AS rd
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
path AS (
  SELECT user_id,
         sum(CASE WHEN plat IS NOT NULL THEN
           CAST(round(2 * 6371000 * asin(sqrt(
               pow(sin(radians(lat - plat) / 2), 2)
               + cos(radians(plat)) * cos(radians(lat))
                 * pow(sin(radians(lon - plon) / 2), 2)))) AS BIGINT)
           ELSE 0 END) AS path_m,
         max(CASE WHEN rd = 1 THEN
           CAST(round(2 * 6371000 * asin(sqrt(
               pow(sin(radians(lat - flat) / 2), 2)
               + cos(radians(flat)) * cos(radians(lat))
                 * pow(sin(radians(lon - flon) / 2), 2)))) AS BIGINT)
           END) AS direct_m
  FROM legs GROUP BY user_id
)
SELECT user_id,
       CAST(path_m AS BIGINT) AS path_m,
       CAST(direct_m AS BIGINT) AS direct_m,
       CAST(1000000 * path_m // direct_m AS BIGINT) AS detour_ppm
FROM path WHERE direct_m >= 1000
""",
    category=CAT,
)
def geo_trip_detour_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detour ratio per user trace: summed leg distance over the
    straight-line first-to-last distance, in exact ppm (both distances
    integer-metre haversine; the direct leg is evaluated at the LAST
    point via first_value + reverse row_number, so one window pass
    feeds both) — the routing-quality metric that separates wandering
    traces from direct ones, with sub-kilometre direct distances
    excluded as ratio-unstable.

    Scale: one user-keyed window sort feeds lag, first_value, AND the
    last-row marker; then a per-user agg — identical shuffle budget to
    the plain haversine op despite computing two path metrics."""

    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    pts = _with_coords(load(spark, sf_dir, "events"))
    legs = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        F.first("lat").over(w).alias("flat"),
        F.first("lon").over(w).alias("flon"),
        F.row_number().over(wd).alias("rd"),
    )
    leg_m = F.round(F.expr(_HAVERSINE_M)).cast("bigint")
    direct_expr = _HAVERSINE_M.replace("plat", "flat").replace("plon", "flon")
    direct_m = F.round(F.expr(direct_expr)).cast("bigint")
    path = legs.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("plat").isNotNull(), leg_m).otherwise(0)
        ).alias("path_m"),
        F.max(F.when(F.col("rd") == 1, direct_m)).alias("direct_m"),
    )
    return path.filter(F.col("direct_m") >= 1000).select(
        "user_id",
        bigint(F.col("path_m")).alias("path_m"),
        bigint(F.col("direct_m")).alias("direct_m"),
        bigint(F.expr("1000000 * path_m div direct_m")).alias("detour_ppm"),
    )


@op(
    "geo_fleet_utilization",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
g AS (
  SELECT user_id, us - lag(us) OVER w AS gap_us
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(sum(CASE WHEN gap_us < 1800000000 THEN gap_us ELSE 0 END)
            AS BIGINT) AS active_us,
       CAST(sum(gap_us) AS BIGINT) AS span_us,
       CAST(1000000 * sum(CASE WHEN gap_us < 1800000000 THEN gap_us
                               ELSE 0 END) // sum(gap_us) AS BIGINT)
         AS util_ppm
FROM g WHERE gap_us IS NOT NULL AND gap_us > 0
GROUP BY user_id
""",
    category=CAT,
)
def geo_fleet_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-utilization ratio per unit: time covered by sub-30-minute
    inter-ping gaps (in service) over the total observed span, in
    exact ppm — the idle-time decomposition behind 'how many vehicles
    do we actually need', and the mirror of sessionization (the gaps
    BETWEEN sessions are the metric here, not the sessions).

    Scale: one user-keyed window sort for the gap stream, then a
    per-user agg — zero-length gaps (duplicate pings) excluded
    identically in both engines."""
    ev = load(spark, sf_dir, "events")
    e = ev.select("user_id", F.unix_micros("ts").alias("us"), "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = e.select(
        "user_id", (F.col("us") - F.lag("us").over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
    active = F.sum(
        F.when(F.col("gap_us") < 1800000000, F.col("gap_us")).otherwise(0)
    )
    return g.groupBy("user_id").agg(
        bigint(F.count(F.lit(1))).alias("n_gaps"),
        bigint(active).alias("active_us"),
        bigint(F.sum("gap_us")).alias("span_us"),
        # DECIMAL(38,0) widening: per-user microsecond sums reach
        # ~3e14 over a multi-year span; 1e6x that overflows int64
        # (same defect class as agg_pareto_coverage, round-7 audit).
        bigint(
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * sum(CASE WHEN gap_us < 1800000000 THEN gap_us"
                " ELSE 0 END)) div sum(gap_us) AS BIGINT)"
            )
        ).alias("util_ppm"),
    )


@op(
    "geo_heading_octant_turns",
    oracle="""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(((user_id * 7919 + event_id * 13) % 17000) AS BIGINT)
           AS laty,
         CAST(((user_id * 104729 + event_id * 31) % 36000) AS BIGINT)
           AS lonx
  FROM events
),
legs AS (
  SELECT user_id, us, event_id,
         lonx - lag(lonx) OVER w AS dx,
         laty - lag(laty) OVER w AS dy
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
oct AS (
  SELECT user_id, us, event_id,
         CASE
           WHEN dx >= 0 AND dy >= 0 AND abs(dx) >= abs(dy) THEN 0
           WHEN dx >= 0 AND dy >= 0 THEN 1
           WHEN dx < 0 AND dy >= 0 AND abs(dx) < abs(dy) THEN 2
           WHEN dx < 0 AND dy >= 0 THEN 3
           WHEN dx < 0 AND dy < 0 AND abs(dx) >= abs(dy) THEN 4
           WHEN dx < 0 AND dy < 0 THEN 5
           WHEN dx >= 0 AND dy < 0 AND abs(dx) < abs(dy) THEN 6
           ELSE 7
         END AS o
  FROM legs WHERE dx IS NOT NULL AND NOT (dx = 0 AND dy = 0)
),
turns AS (
  SELECT (o - lag(o) OVER (PARTITION BY user_id ORDER BY us, event_id)
          + 8) % 8 AS turn
  FROM oct
)
SELECT CAST(turn AS BIGINT) AS turn_octants,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(1000000 * count(*) // sum(count(*)) OVER () AS BIGINT)
         AS share_ppm
FROM turns WHERE turn IS NOT NULL
GROUP BY turn
""",
    category=CAT,
)
def geo_heading_octant_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-behavior distribution from GPS traces: each leg's heading
    quantized to an octant by PURE SIGN/MAGNITUDE comparisons on the
    integer centi-degree deltas (no atan2 — the one decision an engine
    can make exactly), then consecutive-leg turn angles (octant
    difference mod 8) histogrammed corpus-wide with exact ppm shares.
    Zero-length legs (duplicate positions) are excluded in both
    engines; turn=0 is straight-on, 4 is a U-turn — a trace corpus
    full of U-turns is GPS noise, not driving.

    Scale: one user-keyed window sort shared by the delta lag and the
    octant lag (same ordering), then a constant 8-row rollup."""
    ev = load(spark, sf_dir, "events")

    pts = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.expr(f"CAST({_LAT_CENTI} AS BIGINT)").alias("laty"),
        F.expr(f"CAST({_LON_CENTI} AS BIGINT)").alias("lonx"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    legs = pts.select(
        "user_id",
        "us",
        "event_id",
        (F.col("lonx") - F.lag("lonx").over(w)).alias("dx"),
        (F.col("laty") - F.lag("laty").over(w)).alias("dy"),
    ).filter(
        F.col("dx").isNotNull() & ~((F.col("dx") == 0) & (F.col("dy") == 0))
    )
    o = (
        F.when(
            (F.col("dx") >= 0)
            & (F.col("dy") >= 0)
            & (F.abs("dx") >= F.abs("dy")),
            0,
        )
        .when((F.col("dx") >= 0) & (F.col("dy") >= 0), 1)
        .when(
            (F.col("dx") < 0)
            & (F.col("dy") >= 0)
            & (F.abs("dx") < F.abs("dy")),
            2,
        )
        .when((F.col("dx") < 0) & (F.col("dy") >= 0), 3)
        .when(
            (F.col("dx") < 0)
            & (F.col("dy") < 0)
            & (F.abs("dx") >= F.abs("dy")),
            4,
        )
        .when((F.col("dx") < 0) & (F.col("dy") < 0), 5)
        .when(
            (F.col("dx") >= 0)
            & (F.col("dy") < 0)
            & (F.abs("dx") < F.abs("dy")),
            6,
        )
        .otherwise(7)
    )
    oct_df = legs.select("user_id", "us", "event_id", o.alias("o"))
    turns = oct_df.select(
        ((F.col("o") - F.lag("o").over(w) + 8) % 8).alias("turn")
    ).filter(F.col("turn").isNotNull())
    c = turns.groupBy("turn").agg(F.count(F.lit(1)).alias("n"))
    return c.select(
        bigint(F.col("turn")).alias("turn_octants"),
        bigint(F.col("n")).alias("n_turns"),
        F.sum("n").over(Window.partitionBy()).alias("_tot"),
        F.expr("1000000 * n").alias("_scaled"),
    ).select(
        "turn_octants",
        "n_turns",
        bigint(F.expr("_scaled div _tot")).alias("share_ppm"),
    )


@op(
    "geo_quadkey_index",
    oracle="""
WITH pts AS (
  SELECT ((user_id * 7919 + event_id * 13) % 17000) AS latc,
         ((user_id * 104729 + event_id * 31) % 36000) AS lonc
  FROM events
),
q AS (
  SELECT (latc * 256) // 17000 AS qy, (lonc * 256) // 36000 AS qx
  FROM pts
),
keyed AS (
  SELECT
    CAST(2 * ((qy // 128) % 2) + ((qx // 128) % 2) AS VARCHAR) ||
    CAST(2 * ((qy // 64) % 2) + ((qx // 64) % 2) AS VARCHAR) ||
    CAST(2 * ((qy // 32) % 2) + ((qx // 32) % 2) AS VARCHAR) ||
    CAST(2 * ((qy // 16) % 2) + ((qx // 16) % 2) AS VARCHAR) AS quadkey4
  FROM q
)
SELECT quadkey4,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(1000000 * count(*) // sum(count(*)) OVER () AS BIGINT)
         AS share_ppm
FROM keyed GROUP BY quadkey4
HAVING count(*) >= 5
""",
    category=CAT,
)
def geo_quadkey_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadkey spatial indexing (the Bing-Maps tile scheme): points
    quantized to a 256x256 grid, the y/x bits interleaved into a
    base-4 quadkey, truncated to level 4 — quadkey PREFIX = spatial
    containment, which is what makes it the partition/sort key for
    spatial data at scale (prefix range scan = region query; the
    z-order layout op is the write side of this exact trick).  All
    arithmetic is integer div/mod bit extraction, engine-exact.

    Scale: map-side key construction, one quadkey partial/final agg;
    the level is a constant so output is bounded by 4^level."""
    ev = load(spark, sf_dir, "events")

    q = ev.select(
        F.expr(f"({_LAT_CENTI}) * 256 div 17000").alias("qy"),
        F.expr(f"({_LON_CENTI}) * 256 div 36000").alias("qx"),
    )
    digit = lambda s: F.expr(
        f"CAST(2 * ((qy div {s}) % 2) + ((qx div {s}) % 2) AS STRING)"
    )
    keyed = q.select(
        F.concat(digit(128), digit(64), digit(32), digit(16)).alias("quadkey4")
    )
    c = keyed.groupBy("quadkey4").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.filter(F.col("n") >= 5)
        .select(
            "quadkey4",
            bigint(F.col("n")).alias("n_points"),
            F.sum("n").over(Window.partitionBy()).alias("_tot"),
        )
        .select(
            "quadkey4",
            "n_points",
            bigint(F.expr("1000000 * n_points div _tot")).alias("share_ppm"),
        )
    )
