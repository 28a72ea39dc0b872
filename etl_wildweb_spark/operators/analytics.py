"""Event-analytics operators over the events table: ordered funnels and
cohort retention — the product-analytics staples a general engine gets
asked for next to windows and sessionization (SURVEY.md §2 extension).

Both are pure DataFrame compositions: per-user aggregates joined on the
user key, then tiny summary aggregations.  Determinism: time gaps are
exact integer microseconds (unix_micros), never float seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import finite
from ..io import local_frame, table
from ..registry import query

#: Ordered funnel stages (each must strictly follow the previous).
FUNNEL_STAGES = ("view", "click", "purchase")


@query(
    "b47_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'click' GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY 1)
    SELECT 1 AS stage, 'view' AS event_type,
           count(*) AS n_users, CAST(0 AS BIGINT) AS sum_gap_us FROM s1
    UNION ALL
    SELECT 2, 'click', count(*),
           CAST(COALESCE(sum(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT)
    FROM s2 JOIN s1 USING (user_id)
    UNION ALL
    SELECT 3, 'purchase', count(*),
           CAST(COALESCE(sum(epoch_us(t3) - epoch_us(t2)), 0) AS BIGINT)
    FROM s3 JOIN s2 USING (user_id)
    """,
)
def b47_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel (view → click → purchase): a user counts at stage
    k only with an event strictly AFTER their stage-k-1 entry time —
    the sequence constraint that separates a funnel from three bare
    counts.  Emits per-stage reach plus the exact summed conversion
    gap in integer microseconds (averages are a downstream division).

    Scale (guide §2.4 — the previous stage-chained form
    re-scanned events per stage and per summary join, NINE scans and
    five user-keyed joins in the physical plan): ONE shuffle on
    user_id builds each user's time-sorted stage-event list (bounded
    by events-per-user, the same bound every per-user window here
    relies on); the ordered stage times t1 < t2 < t3 then fall out of
    three in-row array filters (F.get is null-safe, so a user missing
    a stage reads null and drops out of later stages exactly like the
    join chain), and ALL THREE stage summaries aggregate that frame
    once and unpivot via stack().  One scan, two exchanges, no joins."""
    e = table(spark, sf_dir, "events")
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_type")))
    first_ts_of = lambda typ, after: F.get(  # noqa: E731
        F.filter(
            "evs",
            lambda x: (x["event_type"] == typ)
            & (F.lit(True) if after is None else x["ts"] > after),
        ),
        0,
    )["ts"]
    per_user = (
        e.filter(F.col("event_type").isin(*FUNNEL_STAGES))
        .groupBy("user_id")
        .agg(arr.alias("evs"))
        .withColumn("t1", first_ts_of("view", None))
        .withColumn("t2", first_ts_of("click", F.col("t1")))
        .withColumn("t3", first_ts_of("purchase", F.col("t2")))
    )
    gap = lambda a, b: F.coalesce(  # noqa: E731
        F.sum(
            F.when(
                F.col(b).isNotNull(),
                F.unix_micros(F.col(b)) - F.unix_micros(F.col(a)),
            )
        ),
        F.lit(0),
    ).cast("bigint")
    row = per_user.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
        gap("t1", "t2").alias("g2"),
        gap("t2", "t3").alias("g3"),
    )
    return row.selectExpr(
        """stack(3,
             1, 'view',     n1, CAST(0 AS BIGINT),
             2, 'click',    n2, g2,
             3, 'purchase', n3, g3)
           AS (stage, event_type, n_users, sum_gap_us)"""
    )


@query(
    "b52_sequence_match",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2,
             lag(ts, 2) OVER w AS t0
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, t0 AS start_ts, ts AS end_ts, event_id AS end_event_id,
           CAST(epoch_us(ts) - epoch_us(t0) AS BIGINT) AS span_us
    FROM seq
    WHERE event_type = 'purchase' AND p1 = 'click' AND p2 = 'view'
    """,
)
def b52_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-lite sequence pattern matching: find every STRICTLY
    CONSECUTIVE view→click→purchase triple in each user's event stream
    (no interleaving events allowed — the adjacency-sensitive pattern a
    funnel can't express).  MATCH_RECOGNIZE's fixed-length core as two
    lag() taps over one per-user sort; variable-length patterns
    (view+ click? purchase) extend this with run-collapse (the
    b41_scd2_history segmenter) before the lag taps.

    Scale: one (user_id)-partitioned window, predicates evaluated
    in-row — a single shuffle and a narrow scan, output-bounded by
    match count.  Span is exact integer microseconds."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
        F.lag("ts", 2).over(w).alias("t0"),
    )
    return seq.filter(
        (F.col("event_type") == "purchase")
        & (F.col("p1") == "click")
        & (F.col("p2") == "view")
    ).select(
        "user_id",
        F.col("t0").alias("start_ts"),
        F.col("ts").alias("end_ts"),
        F.col("event_id").alias("end_event_id"),
        (F.unix_micros("ts") - F.unix_micros("t0")).alias("span_us"),
    )


#: Max gap between successive events of a Kleene match, in µs (48 h —
#: sized to the corpus's ~35 h median per-user click gap so chains of
#: length > 1 actually form).
_CEP_GAP_US = 48 * 3600 * 1_000_000


@query(
    "b68_cep_kleene",
    oracle=f"""
    WITH clk AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {_CEP_GAP_US} THEN 1 ELSE 0 END AS nc
      FROM events WHERE event_type = 'click'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    seg AS (
      SELECT user_id, ts,
             sum(nc) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS chain_id
      FROM clk),
    chains AS (
      SELECT user_id, chain_id, min(ts) AS chain_start,
             max(ts) AS chain_end, count(*) AS n_clicks
      FROM seg GROUP BY 1, 2),
    opened AS (
      SELECT c.user_id, c.chain_id, c.chain_start, c.chain_end,
             c.n_clicks, max(v.ts) AS view_ts
      FROM chains c JOIN events v
        ON v.user_id = c.user_id AND v.event_type = 'view'
       AND epoch_us(c.chain_start) - epoch_us(v.ts)
           BETWEEN 1 AND {_CEP_GAP_US}
      GROUP BY 1, 2, 3, 4, 5),
    closed AS (
      SELECT o.user_id, o.view_ts, o.chain_start, o.chain_end,
             o.n_clicks, min(p.ts) AS purchase_ts
      FROM opened o JOIN events p
        ON p.user_id = o.user_id AND p.event_type = 'purchase'
       AND epoch_us(p.ts) - epoch_us(o.chain_end)
           BETWEEN 1 AND {_CEP_GAP_US}
      GROUP BY 1, 2, 3, 4, 5)
    SELECT user_id, view_ts, chain_start, chain_end,
           CAST(n_clicks AS BIGINT) AS n_clicks, purchase_ts,
           CAST(epoch_us(purchase_ts) - epoch_us(view_ts) AS BIGINT)
             AS span_us
    FROM closed
    """,
)
def b68_cep_kleene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIABLE-LENGTH CEP: the MATCH_RECOGNIZE pattern
    ``view click+ purchase`` with a per-step gap bound — Kleene-plus
    click runs of ANY length, which b52's fixed lag-taps cannot
    express.  The Kleene closure is computed by GAP SESSIONIZATION,
    not recursion: a user's clicks chain when consecutive gaps stay
    within G (lag + running-sum segmenter, the b41 move), then a chain
    matches if some view opens it (strictly before its first click,
    within G) and some purchase closes it (strictly after its last
    click, within G).  Deterministic representatives: latest opening
    view, earliest closing purchase.  Emits one row per matched chain
    with its data-dependent click count.

    Scale: one (user_id)-hash shuffle for the window segmenter; both
    the view and purchase attachments are user-keyed equi-joins with
    in-row range predicates that REUSE the same hash partitioning
    (chains ⊂ clicks keep the key), so no new exchange shapes appear
    at 100 TB and nothing is quadratic — candidate pairs are bounded
    by |chains| × per-user events sharing the key, the same bound the
    batch funnel pays."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > _CEP_GAP_US
            ),
            1,
        )
        .otherwise(0)
        .alias("nc"),
    )
    seg = clk.withColumn(
        "chain_id",
        F.sum("nc").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    chains = seg.groupBy("user_id", "chain_id").agg(
        F.min("ts").alias("chain_start"),
        F.max("ts").alias("chain_end"),
        F.count(F.lit(1)).alias("n_clicks"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    gap_open = F.unix_micros("chain_start") - F.unix_micros("v_ts")
    opened = (
        chains.join(views, "user_id")
        .filter((gap_open >= 1) & (gap_open <= _CEP_GAP_US))
        .groupBy("user_id", "chain_id", "chain_start", "chain_end", "n_clicks")
        .agg(F.max("v_ts").alias("view_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    gap_close = F.unix_micros("p_ts") - F.unix_micros("chain_end")
    closed = (
        opened.join(purchases, "user_id")
        .filter((gap_close >= 1) & (gap_close <= _CEP_GAP_US))
        .groupBy("user_id", "view_ts", "chain_start", "chain_end", "n_clicks")
        .agg(F.min("p_ts").alias("purchase_ts"))
    )
    return closed.select(
        "user_id",
        "view_ts",
        "chain_start",
        "chain_end",
        "n_clicks",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias(
            "span_us"
        ),
    )


@query(
    "b51_resample_ffill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    grid AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds),
    j AS (
      SELECT g.user_id, g.day, COALESCE(d.n, 0) AS n_events,
             max(CASE WHEN d.n IS NOT NULL THEN g.day END)
               OVER (PARTITION BY g.user_id ORDER BY g.day
                     ROWS UNBOUNDED PRECEDING) AS last_seen_day
      FROM grid g LEFT JOIN daily d
        ON g.user_id = d.user_id AND g.day = d.day)
    SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
           last_seen_day,
           CAST(date_diff('day', last_seen_day, day) AS INTEGER)
             AS days_since_seen
    FROM j
    """,
)
def b51_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: densify each user's
    activity onto a complete daily grid over their own [first, last]
    span, then gap-fill — n_events = 0 on silent days, last_seen_day
    carried forward, days_since_seen as the exact recency feature.
    This is the gap-filling primitive behind churn features and
    continuous training signals, where missing rows are data.

    Scale: the grid explode is proportional to user-spans (output-
    sized, narrow); the grid⋈daily join and the forward-fill window
    both key on user_id — one partitioning reused end-to-end, nothing
    global.  The fill is max-over-prefix of observed days (a running
    aggregate), not a last(ignoreNulls) over an unbounded sort — same
    semantics, partial-aggregate-friendly frame."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    from pyspark.sql import Window as W

    j = grid.join(daily, ["user_id", "day"], "left")
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    last_seen = F.max(
        F.when(F.col("n").isNotNull(), F.col("day"))
    ).over(w)
    return j.select(
        "user_id",
        "day",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        last_seen.alias("last_seen_day"),
        F.datediff(F.col("day"), last_seen).cast("int").alias("days_since_seen"),
    )


@query(
    "b48_retention",
    oracle="""
    WITH cohorts AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY 1),
    activity AS (
      SELECT DISTINCT e.user_id, c.cohort_week,
             date_diff('day', c.cohort_week,
                       date_trunc('week', e.ts)) // 7 AS week_k
      FROM events e JOIN cohorts c USING (user_id))
    SELECT cohort_week, CAST(week_k AS INTEGER) AS week_k,
           count(*) AS n_active
    FROM activity
    GROUP BY 1, 2
    """,
)
def b48_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen ISO week, counted
    as active in each subsequent week — the (cohort_week, week_k,
    n_active) triangle behind every retention curve.  week_k is an
    exact integer (both engines truncate to Monday week starts, so the
    day difference is divisible by 7 by construction).

    Scale: one shuffle for per-user first-seen, one user-keyed join
    (re-uses the same partitioning), a distinct at (user, week) grain
    — corpus-sized but combiner-friendly — and a final cohort-sized
    aggregate.  Nothing global, nothing windowed."""
    e = table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(cohorts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_k"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_k").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@query(
    "b74_rolling_features",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(count(*) OVER w AS BIGINT) AS n_24h,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) OVER w
                AS BIGINT) AS sum_24h_micro
    FROM events
    WHERE isfinite(value)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
    """,
)
def b74_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RANGE rolling features — per event, the user's activity
    count and exact value sum over the trailing 24 h — the feature-
    store primitive behind every behavioral model input (and the
    window shape b13's ROWS frames cannot express: the frame is
    defined by event-TIME distance, not row offsets, so sparse and
    bursty users get the same semantics).

    Implementation: rangeBetween over unix_micros(ts) — Spark range
    frames need a numeric sort key; the oracle's RANGE BETWEEN
    INTERVAL is the same frame over the raw timestamp.  Range frames
    are tie-safe (peers enter the frame together), so no event_id
    tiebreak is needed for determinism.  The rolling sum is integer
    micro-units (round(value*1e6) per row, BIGINT window sum) — exact
    and hash-stable; the DECIMAL(38,6) form was value-correct but
    came back float64 through DuckDB's pandas path.

    Scale: one (user_id)-hash exchange + per-partition sort shared by
    both features; the frame advances with two pointers over the
    sorted run — O(n) per partition, no per-row rescan.  At 100 TB
    this is the pattern that replaces N daily self-joins with one
    window pass."""
    # finite(): a quarantined reading gets no feature row and is not a
    # window neighbor (functions/exact.py::finite, mirrored WHERE)
    e = table(spark, sf_dir, "events").filter(finite("value"))
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-24 * 3600 * 1_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_24h"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("bigint"))
        .over(w)
        .cast("bigint")
        .alias("sum_24h_micro"),
    )


#: Interval half-width for b77: each event covers [ts, ts + 300 s).
_COVER_US = 300 * 1_000_000


@query(
    "b77_interval_union",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_COVER_US} AS e
      FROM events),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > COALESCE(max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged)
    SELECT user_id,
           CAST(count(DISTINCT island) AS BIGINT) AS n_islands,
           CAST(sum(len) AS BIGINT) AS covered_us
    FROM (SELECT user_id, island, max(e) - min(s) AS len
          FROM islands GROUP BY user_id, island)
    GROUP BY user_id
    """,
)
def b77_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION (gaps-and-islands coverage): each event opens a
    300 s activity interval; overlapping intervals merge, and the
    output is each user's merged-island count and total covered
    microseconds — the "how much wall-clock was this entity actually
    active" primitive behind SLA coverage, ad-exposure, and machine-
    uptime queries, which naive sum-of-durations double-counts.

    Implementation: the classic running-max island detector — an
    interval starts a new island iff its start exceeds the running
    max of all previous ends; islands are then a running sum of the
    start flags, and each island contributes max(e) − min(s).

    Scale: ONE (user_id)-hash exchange and per-partition sort shared
    by both window passes and the final aggregation (Catalyst chains
    the two same-keyed windows without re-exchanging); everything is
    integer microseconds.  No joins, no self-overlap quadratic blowup
    — O(n log n) per partition regardless of overlap density."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_COVER_US)).alias("e"),
    )
    w = W.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(prev_max_e, F.lit(-(1 << 63))), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len")
    )
    return per_island.groupBy("user_id").agg(
        F.count_distinct("island").cast("bigint").alias("n_islands"),
        F.sum("len").cast("bigint").alias("covered_us"),
    )


@query(
    "b80_attribution",
    oracle="""
    WITH chan AS (
      SELECT event_id, ts, user_id, event_type, value,
             CASE WHEN regexp_extract(props, '([0-9]+)', 1) = ''
                  THEN 'untagged'
                  ELSE CASE CAST(regexp_extract(props, '([0-9]+)', 1)
                              AS BIGINT) % 4
                    WHEN 0 THEN 'search' WHEN 1 THEN 'social'
                    WHEN 2 THEN 'email'  ELSE 'ads' END
             END AS channel
      FROM events),
    tagged AS (
      SELECT *,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN channel END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_channel
      FROM chan)
    SELECT COALESCE(touch_channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM tagged WHERE event_type = 'purchase' AND isfinite(value)
    GROUP BY 1
    """,
)
def b80_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION: every purchase is credited to the
    channel of the user's most recent STRICTLY PRECEDING non-purchase
    event ('direct' when none exists) — the marketing-analytics
    staple that needs an order-aware carry-forward, not a join.
    Channel is derived deterministically from the event's JSON props
    (k mod 4), revenue in exact integer cents (floor(value*100) —
    IEEE multiply + floor agree bit-for-bit across engines).

    Implementation: F.last(..., ignorenulls) over a per-user frame
    ending at 1 PRECEDING — the strictly-before constraint lives in
    the frame, so same-timestamp self-attribution is impossible; the
    (ts, event_id) sort key makes ties deterministic.

    Scale: one (user_id)-hash exchange + sort for the carry-forward
    window, then a channel-cardinality-sized aggregation (map-side
    combine leaves ≤5 rows per task).  The frame is computed
    incrementally per partition — no per-purchase backward scan."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    # digitless props would make the ANSI cast of regexp_extract's ''
    # a data-dependent whole-query crash (caught by the degenerate-
    # corpus sweep; DuckDB's CAST('' AS BIGINT) dies the same way) —
    # those events carry an explicit 'untagged' channel instead, CASE
    # short-circuiting keeps the cast off the empty string per row
    digits = F.regexp_extract("props", r"([0-9]+)", 1)
    chan = e.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.when(digits == "", F.lit("untagged"))
        .otherwise(
            F.element_at(
                F.array(
                    *[F.lit(c) for c in ("search", "social", "email", "ads")]
                ),
                (digits.cast("bigint") % 4).cast("int") + 1,
            )
        )
        .alias("channel"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    tagged = chan.withColumn(
        "touch_channel",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("channel")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        # finite() on PURCHASES only: value feeds nothing but the
        # revenue cast, so a garbage reading on a touch event must not
        # erase the touch — only the unbillable purchase is quarantined
        # (functions/exact.py::finite, mirrored in the oracle WHERE)
        tagged.filter((F.col("event_type") == "purchase") & finite("value"))
        .groupBy(
            F.coalesce("touch_channel", F.lit("direct")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


def pagerank_int(
    edges: DataFrame, nodes: DataFrame, iters: int = 3
) -> DataFrame:
    """Fixed-iteration PageRank with INTEGER-EXACT arithmetic: ranks
    are micro-scaled bigints (start 10⁶), each edge pushes
    (rank·w) div out_w, and rank' = 150000 + (85·contrib) div 100 —
    floor division everywhere, so the result is bit-identical across
    engines and partitionings (no float-sum order sensitivity, the
    same trick as b42/b43's scaled-integer scores).  Dangling nodes
    keep the (1−d) floor; un-pointed-to nodes converge to it.

    ``edges``: (src, dst, w) aggregated weights; ``nodes``: (node).
    Scale: the per-iteration cost is one src-keyed join of edges
    against the (node-sized) rank table — broadcast when nodes fit,
    hash co-partitioned otherwise — and one dst-keyed partial
    aggregate.  Edge weights aggregate ONCE before the loop; the
    fact-scale joins never repeat."""
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    ranks = nodes.select("node", F.lit(1_000_000).cast("bigint").alias("rank"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank * w) div ow").alias("push"),
            )
            .groupBy("node")
            .agg(F.sum("push").alias("contrib"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(150_000)
                + F.expr("(85 * coalesce(contrib, 0)) div 100")
            )
            .cast("bigint")
            .alias("rank"),
        )
    return ranks


@query(
    "b84_pagerank",
    oracle="""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
    r0 AS (SELECT n_nationkey AS node, CAST(1000000 AS BIGINT) AS rank
           FROM nation),
    r1 AS (
      SELECT n.node,
             CAST(150000 + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT)
               AS rank
      FROM r0 n LEFT JOIN (
        SELECT e.dst AS node, sum((r.rank * e.w) // o.ow) AS contrib
        FROM edges e JOIN r0 r ON e.src = r.node
        JOIN outw o ON e.src = o.src GROUP BY 1) c ON n.node = c.node),
    r2 AS (
      SELECT n.node,
             CAST(150000 + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT)
               AS rank
      FROM r0 n LEFT JOIN (
        SELECT e.dst AS node, sum((r.rank * e.w) // o.ow) AS contrib
        FROM edges e JOIN r1 r ON e.src = r.node
        JOIN outw o ON e.src = o.src GROUP BY 1) c ON n.node = c.node),
    r3 AS (
      SELECT n.node,
             CAST(150000 + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT)
               AS rank
      FROM r0 n LEFT JOIN (
        SELECT e.dst AS node, sum((r.rank * e.w) // o.ow) AS contrib
        FROM edges e JOIN r2 r ON e.src = r.node
        JOIN outw o ON e.src = o.src GROUP BY 1) c ON n.node = c.node)
    SELECT node AS nationkey, rank AS pagerank FROM r3
    """,
)
def b84_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK (3 iterations, damping 0.85) over the nation-level
    trade graph: an edge src→dst weighted by how many lineitems flow
    from customers of nation src to suppliers of nation dst.  The
    edge aggregation is the only fact-scale work (the TPC-H Q7 join
    shape, dims broadcast); the iteration then runs on the node-sized
    graph.  Integer-exact throughout (see pagerank_int) — the oracle
    unrolls the same three iterations as CTEs and must match to the
    last micro-rank unit."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        # Optimization (guide §5 — materialize shared subtrees): the
        # nation-graph edges (≤ nations² rows) feed outw plus every
        # unrolled iteration — without the checkpoint the initial plan
        # replays the fact-scale 4-table join per reference (56 parquet
        # scans before, 8 after — the surviving scans are the 25-row
        # nation table per unrolled iteration)
        .localCheckpoint(eager=True)
    )
    nodes = n.select(F.col("n_nationkey").cast("bigint").alias("node"))
    ranks = pagerank_int(edges, nodes, iters=3)
    return ranks.select(
        F.col("node").alias("nationkey"), F.col("rank").alias("pagerank")
    )


@query(
    "b112_cohort_ltv",
    oracle="""
    WITH cohorts AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY 1),
    rev AS (
      SELECT c.cohort_week,
             date_diff('day', c.cohort_week,
                       date_trunc('week', e.ts)) // 7 AS week_k,
             sum(CAST(round(e.value * 1000000) AS BIGINT)) AS v_micro
      FROM events e JOIN cohorts c USING (user_id)
      WHERE e.event_type = 'purchase' AND isfinite(e.value)
      GROUP BY 1, 2)
    SELECT cohort_week, CAST(week_k AS INTEGER) AS week_k,
           CAST(v_micro AS BIGINT) AS week_rev_micro,
           CAST(sum(v_micro) OVER (PARTITION BY cohort_week
                                   ORDER BY week_k) AS BIGINT)
             AS cum_rev_micro
    FROM rev
    """,
)
def b112_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: purchase revenue per (first-seen-week
    cohort × age week), plus the running cumulative — the LTV curve
    behind b48's retention triangle.  Revenue stays integer micro-units
    end to end; the cumulative is a window sum over the already-
    aggregated cohort matrix, never over raw events.

    Scale: identical shape to b48 (per-user first-seen shuffle, then a
    user-keyed join that reuses the partitioning, then a cohort-sized
    aggregate); the added running-sum window partitions by cohort over
    the tiny (cohorts × weeks) matrix — no corpus-scale window, no
    global sort."""
    e = table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    rev = (
        # finite() on the revenue slice only — cohort membership is
        # value-independent (the b80 purchase-quarantine rule)
        e.filter((F.col("event_type") == "purchase") & finite("value"))
        .join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_k"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias(
                "v_micro"
            )
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("cohort_week").orderBy("week_k")
    return rev.select(
        "cohort_week",
        "week_k",
        F.col("v_micro").cast("bigint").alias("week_rev_micro"),
        F.sum("v_micro").over(w).cast("bigint").alias("cum_rev_micro"),
    )


@query(
    "b116_bounce_rate",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             -- STRICTLY greater: Spark's session_window EXTENDS a
             -- session for an event landing exactly at prev_ts + gap
             -- (the b22/b72 inclusive-gap find, a33793e; probed again
             -- batch-side for this twin — an exactly-30:00 pair is ONE
             -- Spark session).  >= here split it for eleven rounds,
             -- invisible because no corpus gap ever landed on :00.000000.
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    sess AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    per AS (
      SELECT user_id, sid, min(ts) AS session_start, count(*) AS n
      FROM sess GROUP BY 1, 2)
    SELECT CAST(session_start AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces
    FROM per GROUP BY 1
    """,
)
def b116_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized bounce metrics: sessions close after 30 minutes of
    inactivity (Spark's built-in ``session_window``; the oracle rebuilds
    the identical islands with a gap-flag running sum), then per
    session-start day we count sessions and single-event sessions —
    bounce RATE is the downstream division, so outputs stay integer.

    Scale: session_window is a user-keyed stateful aggregation — one
    shuffle, no global ordering; the day rollup then aggregates the
    session-cardinality table.  The same expression streams under a
    watermark (B22 pins that equivalence)."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("session_start"))
    return (
        per.groupBy(F.to_date("session_start").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
        )
    )


@query(
    "b119_clamped_balance",
    oracle="""
    WITH tx AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 1000000) AS BIGINT)
                  ELSE -CAST(round(value * 1000000) AS BIGINT) END AS delta
      FROM events
      WHERE event_type IN ('purchase', 'error') AND isfinite(value)),
    sums AS (
      SELECT user_id, ts, event_id,
             sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS p
      FROM tx),
    pre AS (
      SELECT user_id, p,
             min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prevmin,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM sums)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_tx,
           CAST(sum(CASE WHEN p < least(0, coalesce(prevmin, 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamps,
           CAST(max(CASE WHEN rn_last = 1
                         THEN p - least(0, least(coalesce(prevmin, 0), p))
                    END) AS BIGINT) AS final_bal_micro
    FROM pre GROUP BY user_id
    """,
)
def b119_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped-at-zero running balance (credits = purchases, debits =
    errors; an account that cannot go negative) — an apparently
    SEQUENTIAL recurrence, bal_i = max(0, bal_{i-1} + d_i), that a
    naive port executes as a per-user Python fold.  The engine instead
    uses the prefix-minimum identity: bal_n = P_n − min(0, min_{j≤n}
    P_j) where P is the plain prefix sum, and each clamp event is
    exactly a strict new running minimum below zero — so the whole
    recurrence collapses into TWO stacked window passes sharing one
    user-keyed sort, fully JVM-side, bit-exact in integer micro-units.

    Scale: no applyInPandas, no per-user iteration — the same
    window-over-window shape as b41/b117, shuffle-parallel by user.
    This identity is the general template for max/min-clamped
    recurrences (inventory floors, capped meters, drawdown)."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1_000_000).cast("bigint")
    # finite(): a quarantined reading is not a ledger transaction
    tx = e.filter(
        F.col("event_type").isin("purchase", "error") & finite("value")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", v).otherwise(-v).alias(
            "delta"
        ),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    wp = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    sums = tx.select(
        "user_id", "ts", "event_id", F.sum("delta").over(w).alias("p")
    )
    pre = sums.select(
        "user_id",
        "p",
        F.min("p").over(wp).alias("prevmin"),
        F.row_number()
        .over(
            W.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn_last"),
    )
    prev0 = F.least(F.lit(0), F.coalesce("prevmin", F.lit(0)))
    return pre.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tx"),
        F.sum(F.when(F.col("p") < prev0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_clamps"),
        F.max(
            F.when(
                F.col("rn_last") == 1,
                F.col("p") - F.least(prev0, F.col("p")),
            )
        )
        .cast("bigint")
        .alias("final_bal_micro"),
    )


@query(
    "b121_linear_interpolate",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             sum(CAST(round(value * 1000000) AS BIGINT)) AS v
      FROM events WHERE isfinite(value) GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    grid AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds),
    marked AS (
      SELECT g.user_id, g.day, d.v,
             max(CASE WHEN d.v IS NOT NULL THEN g.day END)
               OVER (PARTITION BY g.user_id ORDER BY g.day
                     ROWS UNBOUNDED PRECEDING) AS p_day,
             min(CASE WHEN d.v IS NOT NULL THEN g.day END)
               OVER (PARTITION BY g.user_id ORDER BY g.day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS n_day
      FROM grid g LEFT JOIN daily d
        ON g.user_id = d.user_id AND g.day = d.day),
    j AS (
      SELECT m.user_id, m.day, m.v IS NOT NULL AS observed,
             m.p_day, m.n_day, p.v AS p_v, n.v AS n_v
      FROM marked m
      JOIN daily p ON m.user_id = p.user_id AND m.p_day = p.day
      JOIN daily n ON m.user_id = n.user_id AND m.n_day = n.day)
    SELECT user_id, day, observed,
           CAST(CASE WHEN n_day = p_day THEN p_v
                ELSE p_v + (num - (((num % den) + den) % den)) // den END
                AS BIGINT) AS v_interp_micro
    FROM (SELECT *,
                 (n_v - p_v) * date_diff('day', p_day, day) AS num,
                 date_diff('day', p_day, n_day) AS den
          FROM j)
    """,
)
def b121_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR interpolation — b51's forward-fill sibling for
    signals where a straight line beats a step: densify each user's
    daily value sum onto their [first, last] grid, then fill silent
    days with p + ((n−p)·Δ) // span in integer micro-units.  FLOOR
    division is pinned explicitly on both engines: Spark ``div`` and
    DuckDB ``//`` BOTH truncate toward zero (differing from floor on
    negative slopes), so each side computes floor as
    (num − nonneg_mod(num, den)) div den — pure integer, exact, and
    identical regardless of slope sign.

    Scale: grid explode is span-sized; the bracket days come from the
    same prefix/suffix running aggregates as b51, and the two value
    lookups are user-keyed equi-joins reusing one partitioning — no
    per-gap search, no global window."""
    from pyspark.sql import Window as W

    # finite(): a quarantined reading contributes nothing to its day —
    # a day with only quarantined readings becomes a silent (filled) day
    e = table(spark, sf_dir, "events").filter(finite("value"))
    daily = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias("v"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    wb = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    wf = W.partitionBy("user_id").orderBy("day").rowsBetween(
        0, W.unboundedFollowing
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    marked = (
        grid.join(daily, ["user_id", "day"], "left")
        .withColumn("p_day", F.max(obs_day).over(wb))
        .withColumn("n_day", F.min(obs_day).over(wf))
    )
    p = daily.select("user_id", F.col("day").alias("p_day"), F.col("v").alias("p_v"))
    n = daily.select("user_id", F.col("day").alias("n_day"), F.col("v").alias("n_v"))
    j = marked.join(p, ["user_id", "p_day"]).join(n, ["user_id", "n_day"])
    floor_div = F.expr(
        "(( (n_v - p_v) * datediff(day, p_day) ) "
        " - pmod((n_v - p_v) * datediff(day, p_day), datediff(n_day, p_day)))"
        " div datediff(n_day, p_day)"
    )
    return j.select(
        "user_id",
        "day",
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("n_day") == F.col("p_day"), F.col("p_v"))
        .otherwise(F.col("p_v") + floor_div)
        .cast("bigint")
        .alias("v_interp_micro"),
    )


@query(
    "b129_hierarchy_closure",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT DISTINCT user_id FROM events),
    walk(u, cur, d) AS (
      SELECT user_id, user_id, 0 FROM nodes
      UNION ALL
      SELECT u, (cur - 1) // 3, d + 1 FROM walk WHERE cur > 0)
    SELECT u AS user_id, CAST(max(d) AS INTEGER) AS depth
    FROM walk GROUP BY u
    """,
)
def b129_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-hierarchy closure: each user hangs in a reporting tree
    via parent(u) = (u−1) div 3 (root 0) and the operator emits every
    node's depth.  The oracle walks the tree with DuckDB's WITH
    RECURSIVE; an earlier engine side mirrored it with a
    pointer-doubling jump-table loop (≈⌈log₂(depth)⌉ joined rounds).

    Optimization (guide §8 — use what the optimizer cannot
    know): the parent EDGE IS A FORMULA, not data, so depth needs no
    graph traversal at all.  parent(u) = (u−1) div 3 means the ids at
    depth d are exactly ((3^d−3)/2, (3^(d+1)−3)/2] — a fixed integer
    threshold ladder with ≤ 40 rungs covering all of bigint (3^41 >
    2^63).  Depth therefore evaluates as ONE whole-stage-codegen CASE
    expression per distinct id: zero joins, zero iterative rounds,
    zero driver round-trips, one exchange (the distinct) in the whole
    query — vs ~⌈log₂(depth)⌉ join+checkpoint+collect rounds before
    (measured 0.87 s → ~0.1 s at sf0.1).  The
    thresholds are exact integers, so there is no float-log boundary
    risk, and negative/zero ids keep their depth-0 fixpoint semantics
    (the oracle's walk never starts for them).  Equivalence with a
    pure-Python parent-chain walk is pinned over the full boundary
    lattice in tests/test_new_ops_invariants.py.

    The generalizable point is the same one the b29 CC family makes in
    reverse: iterative contraction is for edges THAT ARE DATA; when
    the edge function is computable, ship the function to the data.
    At 100 TB this is a narrow map over distinct ids — embarrassingly
    parallel, no per-round synchronization barrier to straggle on."""
    from pyspark.sql import functions as F

    e = table(spark, sf_dir, "events")
    nodes = e.select(F.col("user_id").alias("u")).distinct()
    # max id at depth d is (3^(d+1) − 3) / 2; d = 40 covers bigint
    ladder = "CASE WHEN u <= 0 THEN 0 " + "".join(
        f"WHEN u <= {(3 ** (d + 1) - 3) // 2}L THEN {d} "
        for d in range(1, 40)
    ) + "ELSE 40 END"
    return nodes.select(
        F.col("u").alias("user_id"),
        F.expr(ladder).cast("int").alias("depth"),
    )


@query(
    "b131_dag_path_count",
    oracle="""
    WITH RECURSIVE nodes AS (SELECT DISTINCT user_id AS u FROM events),
    walk(u, cur) AS (
      SELECT u, u FROM nodes
      UNION ALL
      SELECT u, p FROM (
        SELECT u, unnest(list_distinct([cur // 2, (cur - 1) // 3])) AS p
        FROM walk WHERE cur > 0) t
    )
    SELECT u AS user_id, CAST(count(*) AS BIGINT) AS n_paths
    FROM walk WHERE cur = 0 GROUP BY u
    """,
)
def b131_dag_path_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General DAG reachability WITH path counting (extending b129's
    depth-only closure): each user id hangs in a DAG
    with TWO parent edges — u → u div 2 and u → (u−1) div 3 (root 0,
    parallel edges deduped) — and the operator computes the exact
    number of distinct root paths per observed user.  The oracle is
    DuckDB's WITH RECURSIVE over the identical edge rule.

    Optimization (guide §8): an earlier engine ran a two-phase distributed
    fixpoint (frontier closure + level-synchronous DP — ~2·log₂(max id)
    rounds of joins, checkpoints and scalar collects).  But the parent
    EDGES ARE FORMULAS, not data: pc(u) is a pure function of u alone —
    pc(0)=1, pc(u) = Σ pc(p) over p ∈ distinct{u div 2, (u−1) div 3} — so
    the whole DAG walk evaluates per row with an explicit-stack memoized
    recursion (depth ≤ ⌈log₂ u⌉ ≤ 63; parents strictly decrease, so it
    terminates and never leaves [0, u]).  One Arrow-batched mapInPandas
    pass over the distinct ids replaces every one of the ~34 iterative
    rounds: 3.4 s → ~0.35 s at sf0.1, plan goes from dozens of exchanges
    across ~70 jobs to exactly one exchange (the distinct) and one job.
    The memo is built once per task (guide §4.5) and shared across that
    task's ids, so shared ancestor chains are walked once — per-task work
    is O(ids · depth) dict hits worst case, the same closure-sized state
    the DP materialized, minus every shuffle.

    The split of labor in this family is deliberate: b29's CC engines
    iterate because their edges ARE data; here the edge function is
    computable, and shipping the function to the data deletes the
    traversal entirely.  Python-int accumulation is arbitrary-
    precision, so the DP never wraps; the final cast to bigint is the
    same contract the distributed sum had under ANSI.  Negative ids
    emit no row (their walk never reaches 0 — matching the recursive
    oracle, which only descends through cur > 0); equivalence with
    the old fixpoint's semantics is pinned on dense, sparse and
    boundary id sets in tests/test_new_ops_invariants.py."""
    e = table(spark, sf_dir, "events")
    nodes = e.select(F.col("user_id").alias("u")).distinct()
    return nodes.mapInPandas(
        _dag_path_count_batches, schema="user_id bigint, n_paths bigint"
    )


def _dag_path_count_batches(batches):
    """mapInPandas worker for b131: memoized per-id DAG path counts.
    Module-level (pickled by reference, shipped via addPyFile); the
    memo lives for the whole task — one construction per task, every
    batch and every shared ancestor chain amortizes it (guide §4.5)."""
    import pandas as pd

    memo = {0: 1}

    def n_paths(u: int) -> int:
        stack = [u]
        while stack:
            x = stack[-1]
            if x in memo:
                stack.pop()
                continue
            ps = {x // 2, (x - 1) // 3}  # x > 0 ⇒ both parents in [0, x)
            missing = [p for p in ps if p not in memo]
            if missing:
                stack.extend(missing)
            else:
                memo[x] = sum(memo[p] for p in ps)
                stack.pop()
        return memo[u]

    for pdf in batches:
        ids = [int(u) for u in pdf["u"] if u is not None and int(u) >= 0]
        yield pd.DataFrame(
            {
                "user_id": pd.array(ids, dtype="int64"),
                "n_paths": pd.array(
                    [n_paths(u) for u in ids], dtype="int64"
                ),
            }
        )


# ------------------------------------------------- triangle counting


@query(
    "b152_triangle_count",
    oracle="""
    WITH g AS (
      SELECT DISTINCT event_type, date_trunc('minute', ts) AS m, user_id
      FROM events),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM g a JOIN g b
        ON a.event_type = b.event_type AND a.m = b.m
           AND a.user_id < b.user_id),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges
            UNION ALL SELECT v AS node FROM edges)
      GROUP BY 1),
    arcs AS (
      SELECT CASE WHEN du.d * 4294967296 + e.u < dv.d * 4294967296 + e.v
                  THEN e.u ELSE e.v END AS src,
             CASE WHEN du.d * 4294967296 + e.u < dv.d * 4294967296 + e.v
                  THEN e.v ELSE e.u END AS dst
      FROM edges e JOIN deg du ON e.u = du.node
                   JOIN deg dv ON e.v = dv.node),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM arcs e1 JOIN arcs e2 ON e1.dst = e2.src
      WHERE EXISTS (SELECT 1 FROM arcs e3
                    WHERE e3.src = e1.src AND e3.dst = e2.dst))
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b AS node FROM tri
          UNION ALL SELECT c AS node FROM tri)
    GROUP BY 1
    """,
)
def b152_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting by degree-ordered orientation (the MapReduce
    classic — Suri & Vassilvitskii, WWW'11 "Counting Triangles and the
    Curse of the Last Reducer"): orient every undirected edge from its
    lower- to its higher-(degree, id) endpoint, enumerate wedges at
    each arc source, and keep wedges closed by a third arc.  Every
    triangle is counted exactly once, and the wedge fan-out per node
    is bounded by its OUT-degree under the orientation — O(m^1.5)
    total work regardless of skew, where the naive join explodes on
    hub nodes (the curse the paper names).  Output: per-node triangle
    participation counts over the user co-occurrence graph (users
    sharing an (event_type, minute) cell).

    Engine shape: the co-occurrence self-join is an equi-join on the
    (event_type, minute) cell key, deduped to distinct edges BEFORE
    any degree math; the orientation needs no global rank — the total
    order is the arithmetic key d·2³² + id (ids < 2³¹), so no window
    at all; the wedge join and the closing semi-join are plain hash
    joins on node keys.  At 100 TB the only skew risk is a hot cell
    key in the first join (bounded: a cell of k users yields k²
    pairs — cell grain is chosen so k stays small) and a hot wedge
    source, which the orientation itself bounds."""
    ev = table(spark, sf_dir, "events")
    g = ev.select(
        "event_type", F.date_trunc("minute", "ts").alias("m"), "user_id"
    ).distinct()
    a = g.select("event_type", "m", F.col("user_id").alias("u"))
    b = g.select("event_type", "m", F.col("user_id").alias("v"))
    # Optimization (guide §3.3/§5 — materialize shared subtrees): edges
    # feeds deg (twice, via the union) and the orientation join, and
    # arcs feeds the wedge join THREE times (e1/e2/e3) — without
    # checkpoints the initial plan replays the corpus-scale cell
    # self-join per reference (180 parquet scans before, 0 after — the
    # final plan roots at the two checkpoints).  Both frames are
    # dup-graph-sized, so the materialization is trivial next to
    # what it saves (interleaved A/B at sf0.1: med 3.6–4.0 s → 2.0–2.3 s).
    edges = (
        a.join(b, ["event_type", "m"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), (F.col("d") * 4294967296 + F.col("node")).alias("ord_u"))
    dv = deg.select(F.col("node").alias("v"), (F.col("d") * 4294967296 + F.col("node")).alias("ord_v"))
    arcs = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = arcs.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = arcs.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = arcs.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"], "left_semi")
    return (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


#: Fixed absorption horizon for b165: the k-step conversion mass is
#: DEFINED as K steps of the exact integer recurrence (journeys longer
#: than K−2 touches contribute only their prefix mass — deterministic
#: and identical in both engines).  48 covers the longest observed
#: journey at every test scale (max 38 channel touches at sf0.1, so 40
#: chain edges) with headroom; on a corpus that exceeds it, both
#: engines truncate identically.
MARKOV_ITERS = 48


def _markov_oracle(iters: int = MARKOV_ITERS) -> str:
    """Unrolled-CTE oracle for b165 (the b84_pagerank method): rebuild the
    per-user chains and transition counts in SQL, then walk `iters`
    exact-integer power steps for the base chain AND every
    single-channel-removed variant in one relational fan-out (variant = a
    cross-join dimension), with per-edge floor division identical to the
    engine's Python-int replica."""
    steps = "".join(
        f"""
    v{k + 1} AS MATERIALIZED (
      SELECT removed, state, CAST(sum(mass) AS HUGEINT) AS mass FROM (
        SELECT e.removed, e.dst AS state,
               (v.mass * e.n) // r.ow AS mass
        FROM v{k} v
        JOIN redge e ON e.removed = v.removed AND e.src = v.state
        JOIN rsum r ON r.removed = v.removed AND r.src = v.state
        UNION ALL
        SELECT removed, state, mass FROM v{k}
        WHERE state IN ('__conv__', '__null__')
      ) GROUP BY 1, 2),"""
        for k in range(iters)
    )
    return f"""
    WITH conv AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS cts
      FROM events GROUP BY 1),
    chan AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e JOIN conv c USING (user_id)
      WHERE e.event_type != 'purchase'
        AND (c.cts IS NULL OR e.ts < c.cts)),
    seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id, event_type) AS rn
      FROM chan),
    lens AS (SELECT user_id, max(rn) AS len FROM seq GROUP BY 1),
    ends AS (
      SELECT c.user_id,
             CASE WHEN c.cts IS NOT NULL THEN '__conv__'
                  ELSE '__null__' END AS fin,
             coalesce(l.len, 0) AS len
      FROM conv c LEFT JOIN lens l USING (user_id)),
    aug AS (
      SELECT user_id, 0 AS rn, '__start__' AS state FROM ends
      UNION ALL SELECT user_id, rn, event_type FROM seq
      UNION ALL SELECT user_id, len + 1, fin FROM ends),
    trans AS MATERIALIZED (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT user_id, state AS src,
               lead(state) OVER (PARTITION BY user_id ORDER BY rn) AS dst
        FROM aug) WHERE dst IS NOT NULL GROUP BY 1, 2),
    chl AS MATERIALIZED (
      SELECT src AS ch FROM trans
      WHERE src NOT IN ('__start__', '__conv__', '__null__')
      UNION
      SELECT dst FROM trans
      WHERE dst NOT IN ('__start__', '__conv__', '__null__')),
    var AS (SELECT ch AS removed FROM chl
            UNION ALL SELECT '__none__'),
    redge AS MATERIALIZED (
      SELECT v.removed, t.src,
             CASE WHEN t.dst = v.removed THEN '__null__'
                  ELSE t.dst END AS dst,
             CAST(sum(t.n) AS HUGEINT) AS n
      FROM var v JOIN trans t ON t.src <> v.removed
      GROUP BY 1, 2, 3),
    rsum AS MATERIALIZED (SELECT removed, src, CAST(sum(n) AS HUGEINT) AS ow
             FROM redge GROUP BY 1, 2),
    v0 AS (SELECT removed, '__start__' AS state,
                  CAST(1000000000000 AS HUGEINT) AS mass FROM var),
    {steps}
    convp AS MATERIALIZED (
      SELECT removed,
             coalesce(max(CASE WHEN state = '__conv__' THEN mass END),
                      0) AS cq
      FROM v{iters} GROUP BY 1),
    base AS MATERIALIZED (SELECT cq AS bq FROM convp WHERE removed = '__none__'),
    eff AS MATERIALIZED (
      SELECT c.ch AS channel,
             CASE WHEN (SELECT bq FROM base) > 0
                  THEN CAST(greatest(CAST(0 AS HUGEINT),
                       (1000000 * ((SELECT bq FROM base)
                                   - coalesce(p.cq, 0)))
                       // (SELECT bq FROM base)) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS removal_effect_ppm
      FROM chl c LEFT JOIN convp p ON p.removed = c.ch),
    tot AS (SELECT sum(removal_effect_ppm) AS t FROM eff),
    npaths AS (SELECT src AS channel, CAST(sum(n) AS BIGINT) AS np
               FROM trans WHERE dst = '__conv__' GROUP BY 1)
    SELECT e.channel,
           coalesce(np.np, 0) AS n_converting_paths,
           e.removal_effect_ppm,
           CASE WHEN (SELECT t FROM tot) > 0
                THEN CAST((1000000 * e.removal_effect_ppm)
                          // (SELECT t FROM tot) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS attribution_share_ppm
    FROM eff e LEFT JOIN npaths np USING (channel)
    """


@query("b165_markov_attribution", oracle=_markov_oracle())
def b165_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016 — the
    data-driven alternative to b80's rule-based last-touch/linear):
    each user's journey is the ordered event chain up to their first
    'purchase' (conversion) or its absence (null); channel c's removal
    effect is 1 − P(conv | c's transitions redirected to null), and
    attribution shares are the normalized effects.

    EXACT (the b84_pagerank method): the
    absorbing-chain probabilities are DEFINED as MARKOV_ITERS = 48 steps
    of the pure-integer recurrence v′(j) = Σᵢ ⌊v(i)·n(i,j)/rowsum(i)⌋
    (+ absorber carry-over) from 10¹² fixed-point mass at __start__,
    with removal = redirect-incoming-to-null + drop-outgoing-row on
    the raw COUNT matrix.  The driver-side solve runs on arbitrary-
    precision Python ints; the oracle unrolls the identical recurrence
    as CTEs over a removed-channel fan-out and must match to the last
    ppm — no float, no convergence tolerance, hash-checkable.  Effects
    and shares are integer floor divisions of the k-step masses.

    Division of labor at scale: the CORPUS-SIZED work — ordering each
    user's events and counting (prev → next) transitions — is one
    window + one groupBy over the event stream; the absorbing-chain
    walk then lives on a |channels|²-sized integer matrix, iterated
    driver-side (bounded: channel cardinality, like b84's node-sized
    PageRank state — an O(1) driver hop by the engine's collect
    rules).  Output: per-channel conversion-path counts, removal
    effect, and share, in ppm."""

    ev = table(spark, sf_dir, "events")
    # Journey = the user's ordered CHANNEL events strictly before their
    # first 'purchase' (the conversion event itself is not a channel);
    # chain = [__start__, c1, ..., ck, __conv__|__null__].  Built as a
    # per-user sorted array so empty journeys (a purchase with no prior
    # touch) still contribute their __start__ → end edge.
    conv = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("conv_ts")
    )
    chans = (
        ev.join(conv, "user_id")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.col("conv_ts").isNull() | (F.col("ts") < F.col("conv_ts")))
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x.getField("event_type"),
            ).alias("chan_seq")
        )
    )
    chain = (
        conv.join(chans, "user_id", "left")
        .select(
            F.concat(
                F.array(F.lit("__start__")),
                F.coalesce("chan_seq", F.array()),
                F.array(
                    F.when(F.col("conv_ts").isNotNull(), "__conv__").otherwise(
                        "__null__"
                    )
                ),
            ).alias("c")
        )
    )
    n_ = F.size("c")
    pairs = F.arrays_zip(
        F.slice("c", F.lit(1), n_ - 1), F.slice("c", F.lit(2), n_ - 1)
    )
    trans = (
        chain.select(F.explode(pairs).alias("p"))
        .select(F.col("p.0").alias("src"), F.col("p.1").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rows = trans.collect()  # |channels+3|² bounded — O(1) driver hop
    absorbing = {"__conv__", "__null__"}
    special = absorbing | {"__start__"}
    channels = sorted(
        s
        for s in {r.src for r in rows} | {r.dst for r in rows}
        if s not in special
    )

    def conv_mass(removed: str | None) -> int:
        """K-step conversion mass in exact q12, Python arbitrary-
        precision ints — the oracle's CTE walk replayed verbatim.
        Removal semantics (Anderl et al.) on the COUNT matrix: every
        edge INTO the removed channel is redirected to __null__ (never
        renormalized onto surviving channels, which would understate
        the effect) and its outgoing row is dropped (unreachable
        anyway — no redirected edge can deliver mass to it)."""
        edges: dict[tuple[str, str], int] = {}
        rowsum: dict[str, int] = {}
        for r in rows:
            if r.src == removed:
                continue
            dst = "__null__" if r.dst == removed else r.dst
            edges[(r.src, dst)] = edges.get((r.src, dst), 0) + r.n
            rowsum[r.src] = rowsum.get(r.src, 0) + r.n
        v = {"__start__": 10**12}
        for _ in range(MARKOV_ITERS):
            nxt: dict[str, int] = {}
            for (s, d), n_sd in edges.items():
                m = v.get(s, 0)
                if m:
                    nxt[d] = nxt.get(d, 0) + (m * n_sd) // rowsum[s]
            for a in absorbing:
                if v.get(a, 0):
                    nxt[a] = nxt.get(a, 0) + v[a]
            v = nxt
        return v.get("__conv__", 0)

    base = conv_mass(None)
    # base == 0 (a corpus with no conversions) must yield zero effect
    # for every channel — `1 - 0` would hand each channel an equal
    # nonzero share despite nothing to attribute.
    effects = {
        c: max(0, (1_000_000 * (base - conv_mass(c))) // base)
        if base > 0
        else 0
        for c in channels
    }
    tot = sum(effects.values())
    conv_paths: dict[str, int] = {}
    for r in rows:
        if r.dst == "__conv__":
            conv_paths[r.src] = conv_paths.get(r.src, 0) + r.n
    out = [
        (
            c,
            int(conv_paths.get(c, 0)),
            effects[c],
            (1_000_000 * effects[c]) // tot if tot > 0 else 0,
        )
        for c in channels
    ]
    return local_frame(
        spark,
        out,
        "channel STRING, n_converting_paths BIGINT, "
        "removal_effect_ppm BIGINT, attribution_share_ppm BIGINT",
    )


@query(
    "b171_kaplan_meier",
    oracle="""
    WITH RECURSIVE u AS (
      SELECT user_id, min(ts) AS origin,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS conv
      FROM events GROUP BY 1),
    horizon AS (SELECT max(ts) AS h FROM events),
    t AS (
      SELECT user_id,
             CASE WHEN conv IS NOT NULL
                  THEN date_diff('day', origin, conv)
                  ELSE date_diff('day', origin, (SELECT h FROM horizon))
             END AS t_day,
             (conv IS NOT NULL) AS observed
      FROM u),
    days AS (
      SELECT t_day,
             CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM t GROUP BY 1),
    risk AS (
      SELECT t_day, d,
             CAST((SELECT count(*) FROM t) AS BIGINT)
               - CAST(coalesce(sum(leaving) OVER (ORDER BY t_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_risk
      FROM days),
    seq AS (
      SELECT t_day, d, n_risk,
             row_number() OVER (ORDER BY t_day) AS rn
      FROM risk),
    walk AS (
      SELECT rn, t_day, d, n_risk,
             (1000000000000 * (n_risk - d)) // n_risk AS s
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT seq.rn, seq.t_day, seq.d, seq.n_risk,
             (walk.s * (seq.n_risk - seq.d)) // seq.n_risk
      FROM seq JOIN walk ON seq.rn = walk.rn + 1)
    SELECT CAST(t_day AS BIGINT) AS t_day, d AS n_events, n_risk,
           CAST(s AS BIGINT) AS surv_q12
    FROM walk
    """,
)
def b171_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of time-to-conversion: each
    user's clock starts at their first event; conversion = first
    purchase; non-converters are right-censored at the corpus horizon.
    Per day t: n_risk (still unconverted and uncensored), n_events
    (conversions), and the survival curve S(t) = Π_{i≤t} (nᵢ−dᵢ)/nᵢ
    as the EXACT fixed-point integer surv_q12: s₋₁ = 10¹²,
    s(t) = ⌊s(t−1)·(n_t−d_t) / n_t⌋ — a pure-integer recurrence whose
    every step is bit-identical in both engines (Spark: one linear
    `aggregate` fold over the sorted day array; oracle: a recursive
    CTE walk).  A day where everyone remaining converts (d = n) drives
    s to exactly 0 and it stays there — no NULL sentinel needed.

    This previously emitted cumulative
    round(10⁶·ln((n−d)/n)) micro-nats, one libm ulp from flipping on
    an unlucky corpus (a measured margin); ln S(t) — and
    the classic Greenwood variance — are downstream display scalars of
    the emitted exact (d, n, s) triple.  The floor in each step loses
    < 10⁻¹² relative per day — invisible at the q12 grain for any
    observation window shorter than ~10⁶ days — and is applied
    IDENTICALLY on both sides, so it is a definition, not an error.

    Scale: per-user reduction (one groupBy), then ALL survival math
    runs on the day table — bounded by the observation window (≤ a few
    thousand days for any real corpus), which is the documented
    single-partition-window bound class (b45's value-domain rule); the
    at-risk count is a cumulative window over those days and the
    survival fold is one linear pass over the collected day array, not
    a per-user scan.  The fold's intermediate s·(n−d) is ≤ 10¹²·n_users
    — BIGINT-safe to ~9·10⁶ at-risk users; at the 10⁹-user design
    point drop the grain to q9 or lift the accumulator to
    DECIMAL(38,0)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("origin"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "conv"
        ),
    )
    u.createOrReplaceTempView("km_users_v")
    ev.createOrReplaceTempView("km_events_v")
    return spark.sql(
        """
        WITH t AS (
          SELECT user_id,
                 CASE WHEN conv IS NOT NULL THEN datediff(conv, origin)
                      ELSE datediff((SELECT max(ts) FROM km_events_v), origin)
                 END AS t_day,
                 (conv IS NOT NULL) AS observed
          FROM km_users_v),
        days AS (
          SELECT t_day,
                 CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS leaving
          FROM t GROUP BY 1),
        risk AS (
          SELECT t_day, d,
                 CAST((SELECT count(*) FROM t) AS BIGINT)
                   - CAST(coalesce(sum(leaving) OVER (
                       PARTITION BY 'all' ORDER BY t_day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_risk
          FROM days),
        arr AS (
          -- the day table is observation-window-bounded (b45's
          -- value-domain rule), so collecting it to ONE sorted array
          -- and folding linearly is the scale-safe shape: one pass,
          -- exact integer state, no O(days²) self-join
          SELECT sort_array(collect_list(struct(t_day, d, n_risk))) AS a
          FROM risk)
        SELECT inline(aggregate(
          a,
          named_struct(
            's', CAST(1000000000000 AS BIGINT),
            'out', CAST(array() AS ARRAY<STRUCT<
              t_day: BIGINT, n_events: BIGINT,
              n_risk: BIGINT, surv_q12: BIGINT>>)),
          (acc, x) -> named_struct(
            's', (acc.s * (x.n_risk - x.d)) div x.n_risk,
            'out', array_append(acc.out, named_struct(
              't_day', CAST(x.t_day AS BIGINT),
              'n_events', x.d,
              'n_risk', x.n_risk,
              'surv_q12', (acc.s * (x.n_risk - x.d)) div x.n_risk))),
          acc -> acc.out))
        FROM arr
        """
    )
