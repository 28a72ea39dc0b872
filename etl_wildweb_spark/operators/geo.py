"""Geospatial operators — the reference's problem domain (wildfire CAD
incidents are points on a map; task.ts:126-140 emits GeoJSON Point
features).  At 100 TB the engine-side question is always the same:
find point pairs/neighbors WITHOUT the O(n²) cross join.  The answer
here is the standard grid-cell decomposition (the GeoSpark/Sedona
partitioning pattern): bucket every point into a radius-sized cell,
probe each point against its 3×3 cell neighborhood via a plain
equi-join, verify the exact distance predicate on candidates only.

Determinism: coordinates live in INTEGER micro-degrees; the distance
predicate dx² + dy² ≤ r² is exact BIGINT arithmetic (equirectangular —
the honest small-radius approximation; a production haversine runs the
same plan with the trig in the verify stage only).  The demo derives
deterministic point coordinates from event ids via md5 (engine-
portable, regeneration-proof) since the shared testdata tables carry
no geo columns; the wildweb ingest path (ingest/wildweb.py) is where
real coordinates enter the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..registry import query
from .sampling import SQL_BUCKET, hash_bucket

#: Demo geometry: points over a 50°×50° region, proximity radius 0.1°.
GEO_SPAN_MICRO = 50_000_000
GEO_RADIUS_MICRO = 100_000


def _coord(key: F.Column, salt: str) -> F.Column:
    """Deterministic micro-degree coordinate in [0, GEO_SPAN_MICRO)."""
    return hash_bucket(F.concat(key.cast("string"), F.lit(salt)), GEO_SPAN_MICRO)


#: Half-ring probe offsets (optimization, guide §2.3: shuffle
#: fewer bytes — here, fewer rows).  The classic 3×3 probe visits every
#: qualifying pair TWICE (a probes b's cell and b probes a's), then
#: filters half away AFTER the join has shuffled and matched them.  The
#: 8-cell ring splits into four antipodal pairs; keeping exactly one
#: offset of each pair — plus (0,0) with an id-order tiebreak for
#: same-cell pairs — finds every unordered pair EXACTLY once: for
#: adjacent cells A ≠ B, exactly one of (B−A), (A−B) is in this set.
#: Probe fan-out drops 9→5 per point and the distance predicate runs
#: once per unordered pair instead of twice; consumers that need both
#: directions mirror the (tiny) verified pair set with one narrow
#: explode instead of re-joining.
_HALF_RING = ((0, 0), (1, -1), (1, 0), (1, 1), (0, 1))


def _radius_pairs(cells: DataFrame) -> DataFrame:
    """All unordered point pairs within GEO_RADIUS_MICRO, each exactly
    once, as (id_a, id_b, dist2_microdeg2).  Orientation is NOT
    normalized — id_a > id_b happens for cross-cell pairs; callers
    orient (b166) or mirror (b167/b173) as their contract needs.
    ``cells`` must carry (event_id, lat, lon, cx, cy)."""
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _HALF_RING
        ]
    )
    probes = (
        cells.select(
            F.col("event_id").alias("id_a"),
            F.col("lat").alias("lat_a"),
            F.col("lon").alias("lon_a"),
            "cx",
            "cy",
            F.explode(offs).alias("o"),
        )
        .select(
            "id_a",
            "lat_a",
            "lon_a",
            (F.col("cx") + F.col("o.dx")).alias("px"),
            (F.col("cy") + F.col("o.dy")).alias("py"),
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("same_cell"),
        )
    )
    build = cells.select(
        F.col("event_id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("cx").alias("px"),
        F.col("cy").alias("py"),
    )
    dist2 = (F.col("lat_a") - F.col("lat_b")) * (
        F.col("lat_a") - F.col("lat_b")
    ) + (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b"))
    return (
        probes.join(build, ["px", "py"])
        # same-cell pairs deduped by id order; cross-cell pairs are
        # unique by the half-ring construction (ids differ by cell
        # uniqueness, so no id_a == id_b case survives either branch)
        .filter(~F.col("same_cell") | (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            dist2.cast("bigint").alias("dist2_microdeg2"),
        )
        .filter(
            F.col("dist2_microdeg2")
            <= F.lit(GEO_RADIUS_MICRO).cast("bigint") * GEO_RADIUS_MICRO
        )
    )


def _mirror_pairs(pairs: DataFrame) -> DataFrame:
    """Both orientations of an unordered pair set — one narrow explode
    over the already-verified (small) pairs, not a second join."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_a"),
                    F.col("id_b").alias("id_b"),
                    F.col("dist2_microdeg2").alias("dist2_microdeg2"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.col("dist2_microdeg2").alias("dist2_microdeg2"),
                ),
            )
        ).alias("p")
    ).select("p.*")


_SQL_COORD = SQL_BUCKET.replace("{key}", "CAST(event_id AS VARCHAR) || '{salt}'")


@query(
    "b166_spatial_cell_join",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             {_SQL_COORD.format(salt="lat", n=GEO_SPAN_MICRO)} AS lat,
             {_SQL_COORD.format(salt="lon", n=GEO_SPAN_MICRO)} AS lon
      FROM events),
    cells AS (
      SELECT event_id, lat, lon,
             lat // {GEO_RADIUS_MICRO} AS cx,
             lon // {GEO_RADIUS_MICRO} AS cy
      FROM pts),
    probes AS (
      SELECT event_id, lat, lon, cx + dx.dx AS px, cy + dy.dy AS py
      FROM cells, (VALUES (-1), (0), (1)) dx(dx), (VALUES (-1), (0), (1)) dy(dy)),
    cand AS (
      SELECT a.event_id AS id_a, b.event_id AS id_b,
             (a.lat - b.lat) * (a.lat - b.lat)
               + (a.lon - b.lon) * (a.lon - b.lon) AS dist2
      FROM probes a JOIN cells b
        ON a.px = b.cx AND a.py = b.cy AND a.event_id < b.event_id)
    SELECT id_a, id_b, CAST(dist2 AS BIGINT) AS dist2_microdeg2
    FROM cand
    WHERE dist2 <= {GEO_RADIUS_MICRO}::BIGINT * {GEO_RADIUS_MICRO}
    """,
)
def b166_spatial_cell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell spatial self-join: all point pairs within 0.1° — the
    incident-proximity query a wildfire CAD engine runs constantly
    (duplicate dispatches, nearby active incidents).  Cell side =
    radius, so any pair within r is in the same or an adjacent cell;
    each point probes its 3×3 neighborhood through a plain equi-join
    on (cell_x, cell_y) and candidates verify the exact integer
    predicate dx² + dy² ≤ r².  Each qualifying pair is found EXACTLY
    once (probe side explodes over the half ring, build side stays in
    its own cell) — no distinct needed.

    Optimization (guide §2.3: shuffle fewer rows): the probe
    side now explodes over the 5-offset HALF ring (_HALF_RING) instead
    of the full 3×3, finding each unordered pair exactly once instead
    of twice-then-filter — 44% fewer probe rows through the join
    exchange and half the distance evaluations, identical rows out
    (the pair is oriented id_a < id_b at emit; dist² is symmetric
    integer math).

    Scale: candidates ≈ 5·density per cell, never O(n²); the join is
    hash-partitioned by cell key, so hot regions (urban incident
    clusters) are the only skew concern — the salting / AQE-skew
    machinery from b59/b73 applies unchanged because it is just an
    equi-join.  At 100 TB the cell table is written bucketed by cell
    key and the probe explode is a narrow ×5."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        _coord(F.col("event_id"), "lat").alias("lat"),
        _coord(F.col("event_id"), "lon").alias("lon"),
    )
    cells = pts.select(
        "event_id",
        "lat",
        "lon",
        F.expr(f"lat div {GEO_RADIUS_MICRO}").alias("cx"),
        F.expr(f"lon div {GEO_RADIUS_MICRO}").alias("cy"),
    )
    pairs = _radius_pairs(cells)
    return pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "dist2_microdeg2",
    )


GEO_KNN_K = 3


@query(
    "b167_geo_knn",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             {_SQL_COORD.format(salt="lat", n=GEO_SPAN_MICRO)} AS lat,
             {_SQL_COORD.format(salt="lon", n=GEO_SPAN_MICRO)} AS lon
      FROM events),
    cells AS (
      SELECT event_id, lat, lon,
             lat // {GEO_RADIUS_MICRO} AS cx,
             lon // {GEO_RADIUS_MICRO} AS cy
      FROM pts),
    probes AS (
      SELECT event_id, lat, lon, cx + dx.dx AS px, cy + dy.dy AS py
      FROM cells, (VALUES (-1), (0), (1)) dx(dx), (VALUES (-1), (0), (1)) dy(dy)),
    cand AS (
      SELECT a.event_id AS id_a, b.event_id AS id_b,
             (a.lat - b.lat) * (a.lat - b.lat)
               + (a.lon - b.lon) * (a.lon - b.lon) AS dist2
      FROM probes a JOIN cells b
        ON a.px = b.cx AND a.py = b.cy AND a.event_id <> b.event_id),
    ranked AS (
      SELECT id_a, id_b, CAST(dist2 AS BIGINT) AS dist2_microdeg2,
             row_number() OVER (PARTITION BY id_a
                                ORDER BY dist2, id_b) AS rnk
      FROM cand
      WHERE dist2 <= {GEO_RADIUS_MICRO}::BIGINT * {GEO_RADIUS_MICRO})
    SELECT id_a, id_b, dist2_microdeg2, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {GEO_KNN_K}
    """,
)
def b167_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point k-nearest-neighbors within the proximity radius —
    "which active incidents are closest to this one" (dispatcher
    dedup/assignment).  Same grid-cell candidate machinery as b166,
    then a per-point rank window over candidates only: the window
    partitions BY point, so parallelism is point-cardinality-wide and
    each partition holds ≤ the 3×3-cell candidate count, never the
    corpus.  Points with fewer than k in-radius neighbors emit fewer
    rows (the truncation is part of the spec — beyond-radius neighbors
    are a different query; expand the ring for unbounded k-NN).
    Distance ties break on neighbor id — integer-deterministic.

    Optimization (guide §2.3): candidates come from the
    shared half-ring pair generator (_radius_pairs — 5 probe offsets,
    each unordered pair joined and distance-verified once) and the
    per-point directionality the rank window needs is restored by
    mirroring the verified pair set with one narrow explode
    (_mirror_pairs) — the mirror runs over in-radius pairs only,
    orders of magnitude fewer rows than the candidate space the old
    9-offset probe pushed through the join twice."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        _coord(F.col("event_id"), "lat").alias("lat"),
        _coord(F.col("event_id"), "lon").alias("lon"),
    )
    cells = pts.select(
        "event_id",
        "lat",
        "lon",
        F.expr(f"lat div {GEO_RADIUS_MICRO}").alias("cx"),
        F.expr(f"lon div {GEO_RADIUS_MICRO}").alias("cy"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("id_a").orderBy("dist2_microdeg2", "id_b")
    return (
        _mirror_pairs(_radius_pairs(cells))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= GEO_KNN_K)
    )


#: Literal geofence zones (micro-degrees): four dispatch regions over
#: the demo span + everything else falls through to 'outside'.
GEO_ZONES = (
    ("zone_nw", 0, 25_000_000, 0, 25_000_000),
    ("zone_ne", 0, 25_000_000, 25_000_000, 50_000_000),
    ("zone_sw", 25_000_000, 50_000_000, 0, 25_000_000),
    ("zone_core", 20_000_000, 30_000_000, 20_000_000, 30_000_000),
)


def _zone_case_sql() -> str:
    whens = " ".join(
        f"WHEN lat >= {a} AND lat < {b} AND lon >= {c} AND lon < {d} "
        f"THEN '{z}'"
        for z, a, b, c, d in GEO_ZONES
    )
    return f"CASE {whens} ELSE 'outside' END"


@query(
    "b168_geofence_rollup",
    oracle=f"""
    WITH pts AS (
      SELECT event_id, event_type,
             {_SQL_COORD.format(salt="lat", n=GEO_SPAN_MICRO)} AS lat,
             {_SQL_COORD.format(salt="lon", n=GEO_SPAN_MICRO)} AS lon
      FROM events)
    SELECT {_zone_case_sql()} AS zone, event_type,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(lat) AS BIGINT) AS min_lat,
           CAST(max(lat) AS BIGINT) AS max_lat
    FROM pts GROUP BY 1, 2
    """,
)
def b168_geofence_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence tagging + rollup: every point classified into literal
    dispatch zones (first-match-wins CASE — zone_core overlaps are
    decided by declaration order, the geofencing convention) and
    rolled up per (zone, incident type).  Because the zones are
    literals, classification compiles to a pure projection — ZERO
    joins, zero shuffles before the final rollup; this is the scalable
    form for any boundary set small enough to inline or broadcast
    (real polygon fencing swaps the CASE for a cell-indexed polygon
    table join — b166's plan with a polygon-verify stage).  Integer
    micro-degree compares throughout."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "event_type",
        _coord(F.col("event_id"), "lat").alias("lat"),
        _coord(F.col("event_id"), "lon").alias("lon"),
    )
    return (
        pts.withColumn("zone", F.expr(_zone_case_sql()))
        .groupBy("zone", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("lat").cast("bigint").alias("min_lat"),
            F.max("lat").cast("bigint").alias("max_lat"),
        )
    )


#: Tile pyramid resolutions (cell edge in micro-degrees): 10°, 1°, 0.1°.
GEO_PYRAMID = (10_000_000, 1_000_000, 100_000)


@query(
    "b169_tile_pyramid",
    oracle=f"""
    WITH pts AS (
      SELECT event_id, event_type,
             {_SQL_COORD.format(salt="lat", n=GEO_SPAN_MICRO)} AS lat,
             {_SQL_COORD.format(salt="lon", n=GEO_SPAN_MICRO)} AS lon
      FROM events),
    lv AS (
      SELECT pts.*, l.res
      FROM pts, (VALUES {", ".join(f"({r})" for r in GEO_PYRAMID)}) l(res))
    SELECT CAST(res AS BIGINT) AS res,
           CAST(lat // res AS BIGINT) AS cell_x,
           CAST(lon // res AS BIGINT) AS cell_y,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM lv GROUP BY 1, 2, 3
    """,
)
def b169_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile pyramid: point counts per cell at 10°/1°/
    0.1° — the zoom-level pre-aggregation behind every incident map
    (and the same shape as an H3/S2 resolution ladder).  One explode
    ×|levels| then a single (res, cell) rollup: map-side combining
    collapses to the tile count per level, so the shuffle carries
    tiles, not points.  Coarser levels could equally be derived by
    MERGING the finest level's tiles (cell÷10 arithmetic — the
    incremental-rollup path b60/b140/b143 use); the explode form is
    chosen here because it exercises one pass over the source and
    keeps every level exact-oracled from raw points."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "event_type",
        _coord(F.col("event_id"), "lat").alias("lat"),
        _coord(F.col("event_id"), "lon").alias("lon"),
    )
    lv = pts.select(
        "event_type",
        "lat",
        "lon",
        F.explode(F.array(*[F.lit(r) for r in GEO_PYRAMID])).alias("res"),
    )
    return (
        lv.groupBy(
            F.col("res").cast("bigint").alias("res"),
            F.expr("lat div res").cast("bigint").alias("cell_x"),
            F.expr("lon div res").cast("bigint").alias("cell_y"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.count_distinct("event_type").cast("bigint").alias("n_types"),
        )
    )


@query(
    "b170_trajectory_segments",
    oracle=f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             {_SQL_COORD.format(salt="lat", n=GEO_SPAN_MICRO)} AS lat,
             {_SQL_COORD.format(salt="lon", n=GEO_SPAN_MICRO)} AS lon
      FROM events),
    seg AS (
      SELECT user_id, event_id,
             lag(lat) OVER w AS lat0, lag(lon) OVER w AS lon0,
             lag(ts) OVER w AS t0, lat, lon, ts
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id,
           CAST((lat - lat0) * (lat - lat0)
                + (lon - lon0) * (lon - lon0) AS BIGINT) AS dist2_microdeg2,
           CAST(date_diff('second', t0, ts) AS BIGINT) AS dt_s
    FROM seg WHERE lat0 IS NOT NULL AND date_diff('second', t0, ts) > 0
    """,
)
def b170_trajectory_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory segmentation: consecutive position fixes per entity
    become movement segments with exact integer squared displacement
    and whole-second duration — the telemetry primitive under speed
    gates, stop detection, and track simplification (a moving incident
    resource in the reference's domain).  One lag window partitioned
    BY entity (entity-cardinality parallelism, never global);
    zero-duration segments (same-timestamp fixes) are excluded so a
    downstream speed = dist/dt is always well-defined.  Speed
    thresholds compare dist² against (v·dt)² — integer
    cross-multiplication, no division, no floats (the b104/b147
    decision-predicate rule)."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        _coord(F.col("event_id"), "lat").alias("lat"),
        _coord(F.col("event_id"), "lon").alias("lon"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = pts.select(
        "user_id",
        "event_id",
        F.lag("lat").over(w).alias("lat0"),
        F.lag("lon").over(w).alias("lon0"),
        F.lag("ts").over(w).alias("t0"),
        "lat",
        "lon",
        "ts",
    )
    dt = F.unix_timestamp("ts") - F.unix_timestamp("t0")
    dist2 = (F.col("lat") - F.col("lat0")) * (F.col("lat") - F.col("lat0")) + (
        F.col("lon") - F.col("lon0")
    ) * (F.col("lon") - F.col("lon0"))
    return (
        seg.filter(F.col("lat0").isNotNull() & (dt > 0))
        .select(
            "user_id",
            "event_id",
            dist2.cast("bigint").alias("dist2_microdeg2"),
            dt.cast("bigint").alias("dt_s"),
        )
    )


DBSCAN_MIN_PTS = 3  # core threshold: ≥ this many neighbors incl. self


def _geo_pairs_sql() -> str:
    """Shared candidate/verify SQL (both directions) for the oracle."""
    return f"""
    pts AS (
      SELECT event_id,
             {_SQL_COORD.format(salt="lat", n=GEO_SPAN_MICRO)} AS lat,
             {_SQL_COORD.format(salt="lon", n=GEO_SPAN_MICRO)} AS lon
      FROM events),
    cells AS (
      SELECT event_id, lat, lon,
             lat // {GEO_RADIUS_MICRO} AS cx, lon // {GEO_RADIUS_MICRO} AS cy
      FROM pts),
    probes AS (
      SELECT event_id, lat, lon, cx + dx.dx AS px, cy + dy.dy AS py
      FROM cells, (VALUES (-1), (0), (1)) dx(dx), (VALUES (-1), (0), (1)) dy(dy)),
    nbr AS (
      SELECT a.event_id AS id_a, b.event_id AS id_b
      FROM probes a JOIN cells b ON a.px = b.cx AND a.py = b.cy
      WHERE a.event_id <> b.event_id
        AND (a.lat - b.lat) * (a.lat - b.lat)
            + (a.lon - b.lon) * (a.lon - b.lon)
            <= {GEO_RADIUS_MICRO}::BIGINT * {GEO_RADIUS_MICRO}),
    core AS (
      SELECT id_a AS event_id FROM nbr GROUP BY 1
      HAVING count(*) + 1 >= {DBSCAN_MIN_PTS})
    """


@query(
    "b173_dbscan_complexes",
    oracle=f"""
    WITH RECURSIVE {_geo_pairs_sql()},
    core_edges AS (
      SELECT nbr.id_a AS src, nbr.id_b AS dst FROM nbr
      WHERE nbr.id_a IN (SELECT event_id FROM core)
        AND nbr.id_b IN (SELECT event_id FROM core)),
    reach(node, lab) AS (
      SELECT event_id, event_id FROM core
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN core_edges e ON e.src = r.node),
    core_cluster AS (
      SELECT node AS event_id, min(lab) AS cluster_id FROM reach GROUP BY 1),
    border AS (
      SELECT nbr.id_a AS event_id, min(cc.cluster_id) AS cluster_id
      FROM nbr JOIN core_cluster cc ON nbr.id_b = cc.event_id
      WHERE nbr.id_a NOT IN (SELECT event_id FROM core)
      GROUP BY 1)
    SELECT event_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           'core' AS role
    FROM core_cluster
    UNION ALL
    SELECT event_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           'border' AS role
    FROM border
    """,
)
def b173_dbscan_complexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering over incident points (eps = the b166
    radius, minPts = {DBSCAN_MIN_PTS}) — "which reports are one fire
    COMPLEX": core points have ≥ minPts in-radius points (incl. self),
    complexes are connected components over core-core proximity, and
    border points attach to their minimum-id adjacent complex; noise
    stays out.  Min-label CC makes the clustering deterministic, so
    the whole algorithm — including the recursive closure — replays
    exactly in DuckDB's WITH RECURSIVE.

    Engine shape: this is pure composition — b166's cell-join produces
    the ε-neighborhood edges (never the n² pair space), the core
    filter is one groupBy on those edges, and the clustering is
    dedup.connected_components (large-star/small-star contraction,
    Kiveris et al. SoCC'14): dense fire complexes are near-clique and
    ε-chains along a fire front are path-shaped, and its O(log n)
    rounds are immune to that diameter.  It emits component-min
    labels, the same fixpoint the DuckDB WITH RECURSIVE oracle walks.
    The per-round state is core-point-sized — a vanishing fraction of
    the corpus by the density definition."""
    from .dedup import connected_components

    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        _coord(F.col("event_id"), "lat").alias("lat"),
        _coord(F.col("event_id"), "lon").alias("lon"),
    )
    cells = pts.select(
        "event_id",
        "lat",
        "lon",
        F.expr(f"lat div {GEO_RADIUS_MICRO}").alias("cx"),
        F.expr(f"lon div {GEO_RADIUS_MICRO}").alias("cy"),
    )
    # Optimization (guide §2.3): ε-edges from the shared
    # half-ring generator — each unordered pair joined and verified
    # once, then mirrored by a narrow explode into the both-direction
    # edge list the core/CC/border stages consume (the old 9-offset
    # probe pushed every pair through the join twice).
    nbr = (
        _mirror_pairs(_radius_pairs(cells))
        .select("id_a", "id_b")
        # the edge list feeds THREE consumers (core filter, CC, border
        # attach) and the upstream cell join is the expensive stage —
        # materialize once
        .localCheckpoint(eager=True)
    )
    core = (
        nbr.groupBy("id_a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") + 1 >= DBSCAN_MIN_PTS)
        .select(F.col("id_a").alias("event_id"))
    )
    # Connected components is orientation-agnostic (it re-derives both
    # directions from its own e ∪ swap(e) union), so the CC input takes
    # only the unordered HALF of the mirrored edge list — half the rows
    # through the two core joins, the engine's edge checkpoint, and the
    # first contraction round.  The mirrored nbr stays for the two
    # consumers that are direction-sensitive (per-point core degree,
    # border attach).  Identical rows (A/B'd; med 6.3→5.6 s at sf0.1).
    core_edges = (
        nbr.filter(F.col("id_a") < F.col("id_b"))
        .join(core.withColumnRenamed("event_id", "id_a"), "id_a")
        .join(core.withColumnRenamed("event_id", "id_b"), "id_b")
        .select("id_a", "id_b")
    )
    # isolated cores (no core neighbor) still form singleton complexes:
    # union self-loops so connected_components sees every core node
    cc_in = core_edges.unionByName(
        core.select(
            F.col("event_id").alias("id_a"), F.col("event_id").alias("id_b")
        )
    )
    core_cluster = connected_components(cc_in).select(
        F.col("node").alias("event_id"), "cluster_id"
    )
    border = (
        nbr.join(
            core.withColumnRenamed("event_id", "id_a"), "id_a", "left_anti"
        )
        .join(
            core_cluster.withColumnRenamed("event_id", "id_b"), "id_b"
        )
        .groupBy(F.col("id_a").alias("event_id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return core_cluster.select(
        "event_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.lit("core").alias("role"),
    ).unionByName(
        border.select(
            "event_id",
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.lit("border").alias("role"),
        )
    )


# ----------------------------------------- polygon-table geofencing

#: b174 geometry: a polygon TABLE (deterministic md5-derived triangles
#: ~≤4° across, centers inside the demo span) and a 2° index grid.
#: Triangles keep the containment predicate exact-integer (three edge
#: cross-product sign tests, no ray-casting float epsilons); an
#: arbitrary convex polygon is the same test over more edges, and a
#: concave one is a fan of these triangles — the plan is unchanged.
GEOFENCE_POLYS = 12
GEOFENCE_CELL = 2_000_000
_GF_DELTA = 2_000_000  # vertex offset from center: ±2°
_GF_CENTER_SPAN = GEO_SPAN_MICRO - 2 * _GF_DELTA


def _poly_vertex(poly_id: F.Column, salt: str, center: bool) -> F.Column:
    key = F.concat(F.lit("poly"), poly_id.cast("string"), F.lit(salt))
    if center:
        return hash_bucket(key, _GF_CENTER_SPAN) + _GF_DELTA
    return hash_bucket(key, 2 * _GF_DELTA + 1) - _GF_DELTA


_SQL_POLY = SQL_BUCKET.replace(
    "{key}", "'poly' || CAST(id AS VARCHAR) || '{salt}'"
)


def geofence_polygons(spark: SparkSession) -> DataFrame:
    """The polygon table: (poly_id, x1..y3) integer micro-degree
    triangle vertices, derived from poly_id via md5 so DuckDB replays
    them exactly (the _coord convention).  In production this is a
    real table of fence geometries; everything downstream only needs
    (poly_id, vertices) rows."""
    p = spark.range(GEOFENCE_POLYS).select(F.col("id").alias("poly_id"))
    pid = F.col("poly_id")
    cx = _poly_vertex(pid, "cx", center=True)
    cy = _poly_vertex(pid, "cy", center=True)
    cols = [pid]
    for i in (1, 2, 3):
        cols.append((cx + _poly_vertex(pid, f"x{i}", center=False)).alias(f"x{i}"))
        cols.append((cy + _poly_vertex(pid, f"y{i}", center=False)).alias(f"y{i}"))
    return p.select(*cols)


def _sql_poly_cte() -> str:
    v = ", ".join(
        f"({_SQL_POLY.format(salt='cx', n=_GF_CENTER_SPAN)}) + {_GF_DELTA} "
        f"+ ({_SQL_POLY.format(salt=f'x{i}', n=2 * _GF_DELTA + 1)}) - {_GF_DELTA} AS x{i}, "
        f"({_SQL_POLY.format(salt='cy', n=_GF_CENTER_SPAN)}) + {_GF_DELTA} "
        f"+ ({_SQL_POLY.format(salt=f'y{i}', n=2 * _GF_DELTA + 1)}) - {_GF_DELTA} AS y{i}"
        for i in (1, 2, 3)
    )
    return f"SELECT id AS poly_id, {v} FROM range({GEOFENCE_POLYS}) t(id)"


#: Sign-test containment over the oriented-edge cross products: inside
#: (incl. boundary) ⟺ the three cross products do not carry BOTH signs.
_SQL_INSIDE = """
  NOT (((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) < 0
        OR (x3 - x2) * (py - y2) - (y3 - y2) * (px - x2) < 0
        OR (x1 - x3) * (py - y3) - (y1 - y3) * (px - x3) < 0)
       AND ((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) > 0
        OR (x3 - x2) * (py - y2) - (y3 - y2) * (px - x2) > 0
        OR (x1 - x3) * (py - y3) - (y1 - y3) * (px - x3) > 0))
"""


@query(
    "b174_polygon_geofence",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             {_SQL_COORD.format(salt="lat", n=GEO_SPAN_MICRO)} AS px,
             {_SQL_COORD.format(salt="lon", n=GEO_SPAN_MICRO)} AS py
      FROM events),
    p AS ({_sql_poly_cte()}),
    pcells AS (
      SELECT p.*, gx.cell_x, gy.cell_y
      FROM p,
      LATERAL (SELECT unnest(range(least(x1, x2, x3) // {GEOFENCE_CELL},
                                   greatest(x1, x2, x3) // {GEOFENCE_CELL} + 1))
               AS cell_x) gx,
      LATERAL (SELECT unnest(range(least(y1, y2, y3) // {GEOFENCE_CELL},
                                   greatest(y1, y2, y3) // {GEOFENCE_CELL} + 1))
               AS cell_y) gy),
    matched AS (
      SELECT pts.event_id, pcells.poly_id
      FROM pts JOIN pcells
        ON pts.px // {GEOFENCE_CELL} = pcells.cell_x
       AND pts.py // {GEOFENCE_CELL} = pcells.cell_y
      WHERE {_SQL_INSIDE}),
    per_poly AS (
      SELECT p.poly_id,
             CAST(coalesce(m.n, 0) AS BIGINT) AS n_points,
             m.min_event
      FROM p LEFT JOIN (
        SELECT poly_id, count(*) AS n, min(event_id) AS min_event
        FROM matched GROUP BY 1) m ON p.poly_id = m.poly_id)
    SELECT CAST(poly_id AS BIGINT) AS poly_id, n_points, min_event
    FROM per_poly
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS poly_id,
           CAST(count(*) AS BIGINT) AS n_points,
           min(event_id) AS min_event
    FROM pts WHERE event_id NOT IN (SELECT event_id FROM matched)
    """,
)
def b174_polygon_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-TABLE geofencing — the real-fence upgrade b168's
    docstring promises: points classified against a table of polygon
    geometries (not literal rectangles) via the b166 cell-index plan
    plus an exact-integer containment verify.  Output: one row per
    polygon with its contained-point count and min event id (zero-hit
    fences included), plus the poly_id = −1 'outside' row — the full
    dispatch-coverage report over the reference's point domain
    (task.ts:126-140).

    Geometry: md5-derived triangles (≤4° across).  Containment is
    three oriented-edge cross products in BIGINT — inside ⟺ the signs
    don't disagree (boundary counts as inside) — so the decision is
    exact integer arithmetic, replayed verbatim by DuckDB: no
    ray-casting, no float epsilon, no tie ambiguity.

    Engine shape at 100 TB: the polygon table explodes into its
    covering 2° grid cells (a ×bbox/cell narrow map, ≤9 cells per
    fence here); points map to their single cell; the candidate join
    is a BROADCAST hash join on (cell_x, cell_y) — fence tables are
    KB-to-MB-sized against TB-scale point streams, so the points
    never shuffle (plan-asserted in tests/test_plans.py).  Each
    (point, polygon) candidate arises once (a polygon covers a cell
    once), so there is no post-join distinct; the matched set is
    materialized once and feeds both the per-fence rollup and the
    outside anti-join — the multi-consumer checkpoint rule.  Skewed
    fences (a metro-area polygon) surface as hot cells in ONE
    equi-join — the b59/b73 salting/AQE machinery applies unchanged."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        _coord(F.col("event_id"), "lat").alias("px"),
        _coord(F.col("event_id"), "lon").alias("py"),
    ).withColumns(
        {
            "cell_x": F.expr(f"px div {GEOFENCE_CELL}"),
            "cell_y": F.expr(f"py div {GEOFENCE_CELL}"),
        }
    )
    polys = geofence_polygons(spark)
    pcells = polys.withColumn(
        "cell_x",
        F.explode(
            F.sequence(
                F.expr(f"least(x1, x2, x3) div {GEOFENCE_CELL}"),
                F.expr(f"greatest(x1, x2, x3) div {GEOFENCE_CELL}"),
            )
        ),
    ).withColumn(
        "cell_y",
        F.explode(
            F.sequence(
                F.expr(f"least(y1, y2, y3) div {GEOFENCE_CELL}"),
                F.expr(f"greatest(y1, y2, y3) div {GEOFENCE_CELL}"),
            )
        ),
    )
    matched = (
        pts.join(F.broadcast(pcells), ["cell_x", "cell_y"])
        .filter(F.expr(_SQL_INSIDE))
        .select("event_id", "poly_id")
        # feeds the per-fence rollup AND the outside anti-join — the
        # multi-consumer materialization rule (see b173's nbr)
        .localCheckpoint(eager=True)
    )
    per_poly = polys.select("poly_id").join(
        matched.groupBy("poly_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("event_id").alias("min_event"),
        ),
        "poly_id",
        "left",
    ).select(
        F.col("poly_id").cast("bigint").alias("poly_id"),
        F.coalesce("n_points", F.lit(0)).cast("bigint").alias("n_points"),
        "min_event",
    )
    outside = (
        pts.join(matched.select("event_id"), "event_id", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("event_id").alias("min_event"),
        )
        .select(
            F.lit(-1).cast("bigint").alias("poly_id"), "n_points", "min_event"
        )
    )
    return per_poly.unionByName(outside)
