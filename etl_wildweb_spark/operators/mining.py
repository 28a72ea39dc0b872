"""Statistical / pattern-mining operators: distribution entropy, Markov
transition matrices, market-basket co-occurrence, integer-exact outlier
detection, event-path n-grams, and time-weighted aggregation.

These are the "data-profiling + behavioral-mining" layer a corpus engine
gets asked for after dedup/quality (SURVEY.md §2 extension): entropy and
outliers profile a corpus slice, transitions/paths/baskets mine ordered
behavior, the time-weighted sum is the standard irregular-time-series
reducer.  Reference parity: the reference connector (task.ts:106-147)
only reshapes rows; these extend the engine surface the way B28-B31 do.

Determinism across engines is the design constraint everywhere:
- counts stay BIGINT,
- money goes through integer cents (``round(x*100)`` — the doubles in
  testdata are 2-dp money, so ``x*100`` lands ~1e-9 away from an
  integer, never near ``.5``),
- moment arithmetic (sums of squares) runs in DECIMAL(38,0) on Spark /
  HUGEINT on DuckDB — exact, order-independent, and sized so even a
  1e10-row group stays under 1e38 (see b104 docstring),
- the only floats are per-ROW natural logs, immediately rounded to
  integer micro-nats: a 1-ulp libm difference (~1e-11 relative) cannot
  flip a round() at 1e-6 granularity unless the value sits exactly on a
  .5 boundary, which irrational logs never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import finite
from ..io import table
from ..registry import query

D38 = "decimal(38,0)"


@query(
    "b101_group_entropy",
    oracle="""
    WITH counts AS (
      SELECT source, lang, count(*) AS c
      FROM documents GROUP BY 1, 2)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           CAST(sum(c * c) AS BIGINT) AS sum_c_sq,
           CAST(CAST(1000000 AS HUGEINT) * CAST(sum(c * c) AS HUGEINT)
                // (CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT))
             AS BIGINT) AS concentration_ppm
    FROM counts GROUP BY source
    """,
)
def b101_group_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity of the language distribution per source, as the exact
    Simpson concentration (collision probability) Σp² in integer ppm:
    concentration_ppm = ⌊10⁶·Σc² / N²⌋, plus the raw integer sufficient
    statistics (N, n_langs, Σc²).  The Rényi-2 entropy H₂ = −ln(Σp²) —
    and any nats/bits change of base — is a downstream display scalar;
    no transcendental touches the emitted (hash-compared) columns.

    This query previously emitted Shannon N·H in
    rounded micro-nats, whose round(10⁶·c·ln c) terms sat one libm ulp
    away from flipping on an unlucky corpus (a measured margin; two
    ==-boundary oracle bugs said remove the class, not monitor it).
    Simpson/Rényi-2 carries the same diversity signal on pure integer
    arithmetic — floor division is bit-identical in both engines.

    Scale: two cascaded hash aggregations — (source, lang) then source —
    each with map-side partial combine; the second input is at most
    |sources|×|langs| rows regardless of corpus size.  The ppm division
    runs through DECIMAL(38,0) so N² is exact past the 2⁶³ line
    (n_docs per source up to ~10¹⁰ at the 100 TB design point).  No
    windows, no sorts, nothing proportional to document count past the
    first partial aggregate."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c_sq"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            "sum_c_sq",
            F.expr(
                f"CAST(1000000 AS {D38}) * CAST(sum_c_sq AS {D38})"
                f" div (CAST(n_docs AS {D38}) * CAST(n_docs AS {D38}))"
            )
            .cast("bigint")
            .alias("concentration_ppm"),
        )
    )


@query(
    "b102_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events),
    trans AS (
      SELECT src, dst, count(*) AS n FROM seq
      WHERE dst IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, CAST(n AS BIGINT) AS n,
           CAST((1000000 * n) // sum(n) OVER (PARTITION BY src)
                AS BIGINT) AS p_ppm
    FROM trans
    """,
)
def b102_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    count of each (src → dst) consecutive event-type pair, plus the
    row-normalized transition probability in integer ppm (floor
    division — exact on both engines, no float ratio in the output).

    Scale: one shuffle on user_id for the lead() window (per-user
    streams are small — the window never materializes more than a
    user's events per task), then a hash aggregation down to at most
    |event_types|² rows; the normalizing window runs on that tiny
    matrix.  This is the scalable shape for transition mining: the
    expensive ordered pass is partitioned by the natural key and the
    global step only touches the aggregated matrix."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    trans = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    return trans.select(
        "src",
        "dst",
        F.col("n").cast("bigint").alias("n"),
        F.expr("(1000000 * n) div sum(n) over (partition by src)")
        .cast("bigint")
        .alias("p_ppm"),
    )


@query(
    "b103_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def b103_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (the frequent-itemset k=2 step): for
    every unordered pair of parts co-occurring in an order, count the
    orders containing both; keep pairs with support ≥ 2.

    Scale: the classic per-basket pair expansion, in ONE basket-keyed
    pass (guide §2.4): collect_set per order deduplicates
    the basket in the same map-side-combined shuffle that clusters it
    (the previous distinct → self-join plan recomputed the distinct
    frame for both join sides and re-exchanged each on l_orderkey —
    three row-scale shuffles and two scans for the same pairs); a
    basket of k items then emits its k(k−1)/2 ordered pairs inside the
    row (arrays bounded by basket size — TPC-H orders hold ≤7 lines),
    never a global cross product.  The count aggregation shuffles pair
    keys, whose cardinality the support threshold then collapses.  For
    skewed mega-baskets the guard is a per-basket item cap upstream —
    the expansion stays per-basket local either way."""
    li = table(spark, sf_dir, "lineitem")
    basket = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice("parts", i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        basket.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.part_a").alias("part_a"),
            F.col("p.part_b").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "b104_zscore_outliers",
    oracle="""
    WITH cents AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    stats AS (
      SELECT o_orderpriority,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS s,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS ssq
      FROM cents GROUP BY 1)
    SELECT c.o_orderkey, c.o_orderpriority, c.cents
    FROM cents c JOIN stats st USING (o_orderpriority)
    WHERE 4 * (st.n * c.cents - st.s) * (st.n * c.cents - st.s)
          > 9 * (st.n * st.ssq - st.s * st.s)
    """,
)
def b104_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact 1.5-sigma outlier detection on order totals per
    priority class: flag x where (x − μ)² > (3/2)²σ², evaluated entirely
    in integer arithmetic by clearing every denominator —
    4·(n·x − s)² > 9·(n·ssq − s²) — so Spark and the oracle agree
    bit-for-bit with zero float comparisons at the decision boundary.
    (k=1.5 because TPC-H order totals are uniform on [~1k, 500k]: a
    uniform's maximum deviation is √3·σ ≈ 1.73σ, so a 2σ test is empty
    by construction; 1.5σ flags the real ~13% tail.)

    Sizing: money in cents ≤ 1e8; a 1e10-row group gives n·x ≤ 1e18 and
    s ≤ 1e18, so 4·(n·x − s)² ≤ ~4e36, and 9·(n·ssq − s²) ≤ ~1e37 with
    ssq ≤ 1e26 — both inside DECIMAL(38,0) / HUGEINT.  Groups beyond
    ~1e10 rows need a two-level (partition-then-merge) moment variant —
    documented, not hit at any TPC-H scale factor.

    Scale: one hash aggregation to a 5-row stats table, broadcast back
    onto the fact scan — the detection pass is a broadcast join + per-row
    integer predicate, no second shuffle of the fact table."""
    o = table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    stats = cents.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("cents").cast(D38).alias("s"),
        F.sum(F.col("cents").cast(D38) * F.col("cents")).cast(D38).alias("ssq"),
    )
    j = cents.join(F.broadcast(stats), "o_orderpriority")
    dev = F.col("n") * F.col("cents") - F.col("s")
    rhs = 9 * (F.col("n") * F.col("ssq") - F.col("s") * F.col("s"))
    return j.filter(4 * dev * dev > rhs).select(
        "o_orderkey", "o_orderpriority", "cents"
    )


@query(
    "b105_event_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT p2 || '>' || p1 || '>' || event_type AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY 1
    """,
)
def b105_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path analysis: frequency of every length-3
    consecutive event-type path per user stream (the n-gram view of
    b102's bigram matrix; b52 matches ONE fixed pattern, this counts
    ALL patterns).

    Scale: same shape as b102 — one user_id-partitioned window pass,
    then a hash aggregation whose output is ≤ |event_types|³ rows.  The
    path string is built per-row in codegen; no arrays materialize."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type"),
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    return seq.groupBy(
        F.concat_ws(">", "p2", "p1", "event_type").alias("path")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


@query(
    "b106_time_weighted_sum",
    oracle="""
    WITH seq AS (
      SELECT event_type, value,
             epoch_us(lead(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS gap_us
      FROM events WHERE isfinite(value)),
    held AS (
      SELECT event_type,
             CAST(round(value * 1000000) AS BIGINT) AS v_micro, gap_us
      FROM seq WHERE gap_us IS NOT NULL)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_held,
           CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
           CAST(sum(CAST(v_micro AS HUGEINT) * gap_us) AS VARCHAR)
             AS vt_micro_us
    FROM held GROUP BY event_type
    """,
)
def b106_time_weighted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted aggregation over an irregular series: each event's
    value is held until the user's next event; per event type we emit
    Σ value·holding_time exactly (micro-value × micro-seconds, summed
    in DECIMAL(38,0) and emitted as a STRING so the 128-bit integer
    crosses engines losslessly — the time-weighted MEAN is the
    downstream division by sum_gap_us).

    Scale: the gap computation is the one user_id-partitioned window
    pass; the weighted sum is a hash aggregation with map-side partial
    combine in decimal — order-independent, so partial/final split
    cannot change the result.  Output is |event_types| rows."""
    # finite() BEFORE the window: a quarantined reading is absent from
    # the metric stream entirely, so holding periods bridge over it —
    # same WHERE position as the oracle (functions/exact.py::finite)
    e = table(spark, sf_dir, "events").filter(finite("value"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    held = seq.select(
        "event_type",
        F.round(F.col("value") * 1e6).cast("bigint").alias("v_micro"),
        "gap_us",
    )
    return held.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_held"),
        F.sum("gap_us").cast("bigint").alias("sum_gap_us"),
        F.sum(F.col("v_micro").cast(D38) * F.col("gap_us"))
        .cast(D38)
        .cast("string")
        .alias("vt_micro_us"),
    )


@query(
    "b107_sliding_distinct",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    contrib AS (
      SELECT DISTINCT user_id, d + CAST(r.range AS INT) AS win_day
      FROM ud, range(7) r)
    SELECT win_day, CAST(count(*) AS BIGINT) AS n_users_7d
    FROM contrib GROUP BY win_day
    """,
)
def b107_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct users per day — the sliding
    COUNT(DISTINCT) that window frames cannot express (distinct is not
    decomposable over overlapping frames).  The scalable identity:
    a user active on day d contributes to the windows ending on
    d..d+6, so distinct (user, day) pairs EXPLODE 7× into
    (user, window_end) contributions, dedup, and count — turning an
    O(days × window) re-scan into two hash aggregations plus a
    constant-factor flatMap.

    Scale: the explode factor equals the window length (bounded,
    chosen), never the data; both distincts are hash aggs with
    map-side combine on (user, day)-grain keys — far smaller than raw
    events.  A 30-day window costs 30×, still linear; the re-scan
    formulation costs windows × full-scan.  No windows, no sorts, no
    per-day loops."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "d",
    ).select("user_id", F.date_add("d", F.col("off")).alias("win_day"))
    return (
        contrib.distinct()
        .groupBy("win_day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users_7d"))
    )


#: Misra-Gries counter capacity for b109 — bounds executor memory; any
#: token with global share > 1/(MG_CAP+1) of one partition's stream is
#: guaranteed to survive that partition's summary.
MG_CAP = 400


@query(
    "b109_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT t.token FROM documents,
             unnest(string_split(text, ' ')) AS t(token))
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY token
    HAVING 29 * count(*) > (SELECT count(*) FROM toks)
    """,
)
def b109_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (frequency > 1/29 of the token stream) via the
    sketch-then-verify pattern: a bounded-memory Misra-Gries pass per
    partition produces a candidate SUPERSET (pigeonhole: a global
    heavy hitter must exceed the threshold share in at least one
    partition, and MG with k counters never evicts an item above a
    1/(k+1) partition share), then exact counts are computed for the
    candidates only and the threshold is applied EXACTLY — so the
    output is the true heavy-hitter set with true counts, independent
    of which extra candidates the sketch happened to retain.  The
    integer cross-product test (29·n > N) keeps the boundary
    float-free on both engines.

    Scale: the sketch pass is one narrow mapInPandas with O(k) state
    per task — no token-domain shuffle; the verify pass broadcasts the
    candidate set (≤ k × partitions rows, bounded by CHOSEN constants)
    into the token stream, so the only shuffle is the candidate-sized
    count aggregation.  The full-vocabulary groupBy lives only in the
    oracle.  The eviction guarantee is pinned on planted skewed data
    in tests/test_llmops.py."""
    import pandas as pd

    e = table(spark, sf_dir, "documents")
    toks = e.select(F.explode(F.split("text", " ")).alias("token"))

    def mg_partial(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > MG_CAP:
                # batched MG decrement: subtract the (CAP+1)-th largest
                # count from everyone; ≥ CAP+1 counters shrink together,
                # so total undercount per survivor ≤ n_partition/(CAP+1)
                cut = sorted(counters.values(), reverse=True)[MG_CAP]
                counters = {
                    t: c - cut for t, c in counters.items() if c > cut
                }
        yield pd.DataFrame({"token": list(counters)})

    cands = toks.mapInPandas(mg_partial, "token string").distinct()
    total = toks.count()  # driver-side scalar bound, like b108's d0
    return (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(29 * F.col("n") > F.lit(total))
    )


@query(
    "b113_pareto_coverage",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem GROUP BY 1),
    ranked AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum_cents,
             sum(cents) OVER () AS total_cents,
             row_number() OVER (ORDER BY cents DESC, l_partkey) AS rk
      FROM rev)
    SELECT l_partkey, CAST(cents AS BIGINT) AS cents,
           CAST(rk AS BIGINT) AS rk
    FROM ranked
    WHERE (cum_cents - cents) * 5 < total_cents * 4
    """,
)
def b113_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto analysis: the smallest prefix of parts (by descending
    revenue) that covers 80% of total revenue — "which SKUs are the
    business".  A part is in the prefix iff the cumulative revenue
    BEFORE it is still under the 80% line, tested as integer
    cross-multiplication (5·cum_before < 4·total) so the boundary is
    float-free; the deterministic (cents DESC, partkey) order makes the
    prefix itself reproducible.

    Scale: revenue rollup is one partkey shuffle with map-side combine;
    the ranking then runs over the PART-cardinality rollup, not the
    fact table.  The ranking is a b87-style two-phase prefix scan, not a
    single-direction global window (the bounded-report shape, fine only
    while the rollup fits one partition): bucket the rollup into 64
    equal-width cents ranges, run the cumulative sum and row_number PER
    BUCKET in parallel, aggregate one (sum, count) row per bucket, take
    the exclusive prefix over that ≤64-row summary (a single-partition
    window over ≤64 rows), and broadcast it back as per-bucket base
    offsets.  cum = base_cents + local_cum and rk = base_rk + local_rk are
    exact because bucket b's cents are strictly greater than bucket b+1's
    (equal-width ranges on the DESC key are order-monotonic and ties share
    a bucket).

    The bucket bounds live IN the plan as a broadcast scalar subquery, not
    a driver hop over a persisted rollup — rev ⨝
    broadcast(rev.agg(min,max)), a 1-row BroadcastNestedLoopJoin.  That
    removes both the ownerless rev.persist() (which leaked a cache entry
    per invocation in long-lived sessions) and the separate bounds job:
    Catalyst's ReusedExchange shares the single partkey-rollup shuffle
    across all three consumers (bounds agg, per-bucket windows, bucket
    summary), so lineitem is scanned and shuffled exactly once per
    invocation with NO cache at all.  Exchange-visible shape pinned in
    tests/test_plans.py; oracle unchanged."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    n_buckets = 64
    # 1-row bounds frame, broadcast-crossed into the rollup: stays in
    # the same executed plan, so the rollup exchange below it is
    # REUSED, not recomputed (and nothing is collected or cached).
    bounds = rev.agg(F.min("cents").alias("_lo"), F.max("cents").alias("_hi"))
    # greatest(1, ...) also covers the empty-corpus null bounds: rev
    # has no rows then, so _b is never evaluated against real data.
    # `div` (exact bigint floor-division) matches the Python `//` the
    # monotonicity hypothesis pin replays — float floor() would drift
    # past 2^53.
    width = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr(f"(_hi - _lo + {n_buckets}) div {n_buckets}"),
    )
    # ascending _b == descending cents range; ties (same cents) share a
    # bucket, so per-bucket (cents DESC, partkey) order IS global order.
    # `div` keeps the bucket id exact bigint arithmetic end-to-end
    # (float division is monotone so semantics would survive, but the
    # exactness argument above only holds if neither the width nor the
    # bucket expression round-trips through doubles).
    bucketed = (
        rev.crossJoin(F.broadcast(bounds))
        .withColumn("_w", width)
        .withColumn("_b", F.expr("(_hi - cents) div _w").cast("int"))
    )

    w_ord = Window.partitionBy("_b").orderBy(F.col("cents").desc(), "l_partkey")
    local = bucketed.select(
        "l_partkey",
        "cents",
        "_b",
        F.sum("cents")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("loc_cum"),
        F.row_number().over(w_ord).alias("loc_rk"),
    )

    summary = bucketed.groupBy("_b").agg(
        F.sum("cents").alias("bsum"), F.count(F.lit(1)).alias("bcnt")
    )
    wp = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = summary.select(
        "_b",
        F.coalesce(F.sum("bsum").over(wp), F.lit(0)).alias("base_cents"),
        F.coalesce(F.sum("bcnt").over(wp), F.lit(0)).alias("base_rk"),
        F.sum("bsum").over(w_all).alias("total_cents"),
    )

    j = local.join(F.broadcast(base), "_b")
    return j.filter(
        (F.col("base_cents") + F.col("loc_cum") - F.col("cents")) * 5
        < F.col("total_cents") * 4
    ).select(
        "l_partkey",
        F.col("cents").cast("bigint").alias("cents"),
        (F.col("base_rk") + F.col("loc_rk")).cast("bigint").alias("rk"),
    )


@query(
    "b114_activity_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS INTEGER) AS dow,
           CAST(extract(hour FROM ts) AS INTEGER) AS hour,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def b114_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (events + distinct users per
    cell) — the usage-pattern profile every analytics surface draws.
    Week-day numbering is pinned to ISO (1=Monday) explicitly on both
    engines, because the engines' defaults disagree (Spark dayofweek
    is 1=Sunday, DuckDB dow is 0=Sunday) — calendar semantics are an
    interface contract, not a default to inherit.

    Scale: one hash aggregation to a fixed 7×24-cell grid; the distinct
    user count per cell is Spark's partial-distinct aggregate (two-level
    hash, map-side dedup before the shuffle).  Output size is constant
    regardless of corpus."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@query(
    "b118_longest_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    isl AS (
      SELECT user_id, d,
             CASE WHEN d - lag(d) OVER (PARTITION BY user_id ORDER BY d)
                       = 1 THEN 0 ELSE 1 END AS brk
      FROM days),
    grp AS (
      SELECT user_id, d,
             sum(brk) OVER (PARTITION BY user_id ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM isl),
    runs AS (
      SELECT user_id, g, count(*) AS len FROM grp GROUP BY 1, 2)
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
    """,
)
def b118_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of CONSECUTIVE active days per user (plus streak
    count) — the engagement metric behind every "7-day streak" badge,
    and the canonical gaps-and-islands instance: break flags via lag,
    island ids via running sum, run lengths via groupBy.

    Scale: the (user, day) distinct is the only corpus-sized stage;
    every window partitions by user over day-cardinality rows, sharing
    one sort.  DATE arithmetic (d - lag = 1) keeps the break test
    integer on both engines."""
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        F.when(F.datediff("d", F.lag("d").over(w)) == 1, 0)
        .otherwise(1)
        .alias("brk"),
    )
    grp = isl.withColumn(
        "g", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = grp.groupBy("user_id", "g").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


@query(
    "b122_weekly_movers",
    oracle="""
    WITH wk AS (
      SELECT l_partkey,
             CAST(date_trunc('week', l_shipdate) AS TIMESTAMP) AS week,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem GROUP BY 1, 2),
    d AS (
      SELECT l_partkey, week, cents,
             cents - lag(cents) OVER
               (PARTITION BY l_partkey ORDER BY week) AS delta
      FROM wk)
    SELECT l_partkey, week, CAST(cents AS BIGINT) AS cents,
           CAST(delta AS BIGINT) AS delta
    FROM d WHERE delta IS NOT NULL
    ORDER BY abs(delta) DESC, l_partkey, week
    LIMIT 20
    """,
)
def b122_weekly_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period movers: the 20 largest week-to-week revenue
    swings per part (vs the part's previous ACTIVE week — sparse series
    compare observed periods, the calendar-adjacent variant composes
    with b121's grid).  Deterministic ordering (|Δ|, partkey, week)
    pins the LIMIT; revenue stays integer cents.

    Scale: the rollup is one (part, week) shuffle with map-side
    combine; the lag window runs per part over its weeks; the global
    top-20 is Spark's TakeOrdered — per-partition heaps + a 20-row
    driver merge, never a full sort."""
    li = table(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("week")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("week")
    d = wk.withColumn("delta", F.col("cents") - F.lag("cents").over(w))
    return (
        d.filter(F.col("delta").isNotNull())
        .select(
            "l_partkey",
            "week",
            F.col("cents").cast("bigint").alias("cents"),
            F.col("delta").cast("bigint").alias("delta"),
        )
        .orderBy(F.abs("delta").desc(), "l_partkey", "week")
        .limit(20)
    )


@query(
    "b125_seasonal_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, isodow(ts) AS dow,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    base AS (
      SELECT dow, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(c) AS HUGEINT) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ssq
      FROM daily GROUP BY 1)
    SELECT d.day, CAST(d.dow AS INTEGER) AS dow, d.c AS n_events
    FROM daily d JOIN base b USING (dow)
    WHERE (b.n * d.c - b.s) * (b.n * d.c - b.s)
          > (b.n * b.ssq - b.s * b.s)
    """,
)
def b125_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted volume anomaly: each day's event count is
    compared against ITS OWN WEEKDAY's baseline (Mondays vs the Monday
    distribution), flagging |c − μ_dow| > σ_dow — the adjustment that
    stops weekly rhythm from drowning real anomalies.  Same cleared-
    denominator integer-moment test as b104 ((n·c − s)² > n·ssq − s²,
    all DECIMAL(38,0)/HUGEINT), so the decision boundary is float-free
    on both engines.

    Scale: the daily rollup is the only corpus-sized aggregation; the
    weekday baseline is a 7-row table broadcast back onto the
    day-cardinality rollup.  Generalizes to any seasonal key (hour,
    month) by swapping the group expression."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("day"),
        (F.weekday("ts") + 1).cast("int").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    base = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("c").cast(D38).alias("s"),
        F.sum(F.col("c").cast(D38) * F.col("c")).cast(D38).alias("ssq"),
    )
    j = daily.join(F.broadcast(base), "dow")
    dev = F.col("n") * F.col("c") - F.col("s")
    var_term = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    return j.filter(dev * dev > var_term).select(
        "day", F.col("dow").cast("int").alias("dow"), F.col("c").alias("n_events")
    )


@query(
    "b130_token_drift",
    oracle="""
    WITH toks AS (
      SELECT CASE WHEN substr(md5(source), 1, 1) < '8'
                  THEN 'a' ELSE 'b' END AS slice,
             t.token
      FROM documents, unnest(string_split(text, ' ')) AS t(token)),
    counts AS (
      SELECT token,
             sum(CASE WHEN slice = 'a' THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN slice = 'b' THEN 1 ELSE 0 END) AS n_b
      FROM toks GROUP BY token),
    tot AS (
      SELECT *, sum(n_a) OVER () AS ta, sum(n_b) OVER () AS tb
      FROM counts)
    SELECT token, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST((1000000 * n_a) // ta AS BIGINT) AS ppm_a,
           CAST((1000000 * n_b) // tb AS BIGINT) AS ppm_b,
           CAST((1000000 * n_a) // ta - (1000000 * n_b) // tb AS BIGINT)
             AS delta_ppm
    FROM tot
    """,
)
def b130_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus halves — the
    vocabulary-level complement of b128's set-level overlap: per token,
    its frequency share (floor-division ppm) in slice A vs slice B and
    the signed delta.  Slices are an md5-prefix split of the SOURCE
    key, so the partition is deterministic on both engines and
    indifferent to source naming or regeneration.  This is the "did
    the crawl shift under me" audit between two ingest periods or
    mixtures.

    Scale: one corpus-sized token explode into a hash aggregation with
    map-side combine; the share windows run over the vocabulary-sized
    count table.  Positive n_a with zero n_b (and vice versa) falls out
    of the conditional aggregation — no outer join needed."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.when(F.substring(F.md5("source"), 1, 1) < "8", "a")
        .otherwise("b")
        .alias("slice"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("slice") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("slice") == "b", 1).otherwise(0)).alias("n_b"),
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = counts.select(
        "*",
        F.sum("n_a").over(w).alias("ta"),
        F.sum("n_b").over(w).alias("tb"),
    )
    return tot.select(
        "token",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr("(1000000 * n_a) div ta").cast("bigint").alias("ppm_a"),
        F.expr("(1000000 * n_b) div tb").cast("bigint").alias("ppm_b"),
        (
            F.expr("(1000000 * n_a) div ta")
            - F.expr("(1000000 * n_b) div tb")
        )
        .cast("bigint")
        .alias("delta_ppm"),
    )


# ------------------------------------------- mergeable count-min sketch

#: CMS geometry: 4 independent hash rows x 64 counters.  Tiny on
#: purpose — the corpus vocabulary is ~30 tokens, so estimates are
#: near-exact while the collision path still gets exercised; scale the
#: width with ln(1/delta)/epsilon in production.
CMS_DEPTH = 4
CMS_WIDTH = 64


def _cms_bucket(tok: F.Column, d: F.Column) -> F.Column:
    """Counter index of token ``tok`` in hash row ``d`` — the SHARED
    cross-engine md5 bucket (sampling.hash_bucket) over the composed
    "token:row" key, so there is exactly one copy of the portability
    contract to keep in sync."""
    from .sampling import hash_bucket

    return hash_bucket(
        F.concat(tok, F.lit(":"), d.cast("string")), CMS_WIDTH
    )


def _sql_cms_bucket(tok: str, d: str) -> str:
    from .sampling import SQL_BUCKET

    return SQL_BUCKET.format(key=f"{tok} || ':' || {d}", n=CMS_WIDTH)


@query(
    "b143_cms_rollup",
    oracle=f"""
    WITH toks AS (
      SELECT source, t.token
      FROM documents, unnest(string_split(text, ' ')) AS t(token)),
    depths AS (SELECT unnest(range({CMS_DEPTH})) AS d),
    cells AS (
      SELECT source, depths.d,
             {_sql_cms_bucket('token', 'depths.d')} AS bucket,
             count(*) AS c
      FROM toks CROSS JOIN depths
      GROUP BY 1, 2, 3),
    merged AS (
      SELECT d, bucket, sum(c) AS c FROM cells GROUP BY 1, 2),
    qt AS (SELECT DISTINCT token FROM toks)
    SELECT q.token, CAST(min(m.c) AS BIGINT) AS est_count
    FROM qt q CROSS JOIN depths dd
    JOIN merged m
      ON m.d = dd.d
     AND m.bucket = {_sql_cms_bucket('q.token', 'dd.d')}
    GROUP BY q.token
    """,
)
def b143_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE COUNT-MIN SKETCH — the frequency-estimation member of
    the mergeable-sketch family (cardinality b60, quantiles b140, set
    algebra b141): per-SOURCE counter grids (depth x width cells as
    relational rows, not opaque bytes) merged into the corpus grid by
    plain counter addition — the CMS merge law — then every distinct
    token point-queried as min over its {CMS_DEPTH} hash-row counters.
    Unlike b109's Misra-Gries (top-k only), a CMS answers ANY
    frequency query after the fact, and per-source grids persist as
    the incremental-rollup partials.

    md5-derived bucket indices make the sketch bit-identical across
    engines, so this approximate structure is EXACT-oracled: DuckDB
    rebuilds the same grid and must match every estimate, collisions
    included.  The est >= true overestimate bound is pinned in
    tests/test_mining_invariants.py.

    Scale: the token stream expands x{CMS_DEPTH} into a map-side-
    combining groupBy that collapses to |sources| x {CMS_DEPTH} x
    {CMS_WIDTH} cells; the merge aggregates cell rows (never raw
    tokens); the probe joins the vocabulary against the
    {CMS_DEPTH * CMS_WIDTH}-row merged grid — broadcast-sized by
    construction at any corpus scale."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    # aggregate the RAW STREAM down to (source, token) counts FIRST,
    # then expand xCMS_DEPTH over that vocabulary-sized table — the
    # depth fan-out never touches row volume (16x sweep: 29 s -> ~2 s;
    # identical cells, since bucket counts are sums of token counts)
    tok_counts = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    depths = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    cells = (
        tok_counts.select("source", "token", "n", F.explode(depths).alias("d"))
        .groupBy("source", "d", _cms_bucket(F.col("token"), F.col("d")).alias("bucket"))
        .agg(F.sum("n").alias("c"))
    )
    merged = cells.groupBy("d", "bucket").agg(F.sum("c").alias("c"))
    probe = (
        tok_counts.select("token")
        .distinct()
        .select("token", F.explode(depths).alias("d"))
        .withColumn("bucket", _cms_bucket(F.col("token"), F.col("d")))
    )
    return (
        probe.join(F.broadcast(merged), ["d", "bucket"])
        .groupBy("token")
        .agg(F.min("c").cast("bigint").alias("est_count"))
    )


# ------------------------------------------- robust (MAD) outliers

@query(
    "b147_mad_outliers",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    h1 AS (SELECT prio, cents, count(*) AS c FROM cents GROUP BY 1, 2),
    c1 AS (
      SELECT prio, cents,
             sum(c) OVER (PARTITION BY prio ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY prio) AS n
      FROM h1),
    med AS (
      SELECT prio, min(cents) AS med, min(n) AS n
      FROM c1 WHERE cum >= (n + 1) // 2 GROUP BY prio),
    dev AS (
      SELECT c.prio, abs(c.cents - m.med) AS dev
      FROM cents c JOIN med m USING (prio)),
    h2 AS (SELECT prio, dev, count(*) AS c FROM dev GROUP BY 1, 2),
    c2 AS (
      SELECT prio, dev,
             sum(c) OVER (PARTITION BY prio ORDER BY dev
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY prio) AS n
      FROM h2),
    mad AS (
      SELECT prio, min(dev) AS mad
      FROM c2 WHERE cum >= (n + 1) // 2 GROUP BY prio)
    SELECT d.prio,
           CAST(min(m.n) AS BIGINT) AS n_rows,
           CAST(min(m.med) AS BIGINT) AS med_cents,
           CAST(min(a.mad) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN 2 * d.dev > 3 * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN med m USING (prio) JOIN mad a USING (prio)
    GROUP BY 1
    """,
)
def b147_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection per priority class — b104's
    moment-based z-score breaks down when the contamination itself
    inflates μ and σ (the masking effect); the robust version uses the
    MEDIAN and the MEDIAN ABSOLUTE DEVIATION, both 50%-breakdown
    estimators, flagging x where |x − med| > (3/2)·MAD.  Everything
    stays integer-exact: cents-scaled values, two b50-style histogram
    walks (median of values, then median of absolute deviations — the
    thresholds are ⌈n/2⌉ cumulative counts, no interpolation), and the
    decision predicate 2·dev > 3·MAD cleared of fractions — Spark and
    DuckDB agree bit-for-bit at every boundary.  (k=3/2 because order
    totals are uniform: MAD = range/4 there, so the classic k=3 flags
    nothing by construction; 3/2 flags the real ~25% tail.)

    Scale: ONE row-level histogram aggregation collapses the corpus to
    the per-group VALUE DOMAIN (the b50/b63 shape); the deviation
    histogram, the MAD, and the outlier count are all DERIVED from
    that histogram by re-keying it on |cents − med| and summing counts
    — the raw rows are never touched again (the original
    recomputed the row-level deviation frame twice, scanning orders
    three times; every downstream quantity is a function of the value
    histogram, so two of the scans and both row-level re-aggregations
    collapse into value-domain arithmetic — identical integers by
    construction).  Group medians/MADs broadcast back as 5-row tables;
    no window ever runs over row counts."""
    o = table(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )

    from pyspark.sql.window import Window as W

    def histogram_median(h: DataFrame, col: str) -> DataFrame:
        """Median from a (prio, value, c) histogram: the ⌈n/2⌉-th value
        by cumulative count — exact integers end to end."""
        cum_w = (
            W.partitionBy("prio")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        tot_w = W.partitionBy("prio")
        c = h.select(
            "prio",
            col,
            F.sum("c").over(cum_w).alias("cum"),
            F.sum("c").over(tot_w).alias("n"),
        )
        return (
            c.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy("prio")
            .agg(F.min(col).alias(f"med_{col}"), F.min("n").alias("n"))
        )

    # the ONLY row-level pass: value-domain histogram per priority.
    # Feeds the median, the derived deviation histogram, and (through
    # it) the MAD + outlier count — multi-consumer, so materialize once
    # (value-domain-sized: bounded by distinct cents values, not rows).
    h1 = (
        cents.groupBy("prio", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    med = histogram_median(h1, "cents").select(
        "prio", F.col("med_cents").alias("med"), "n"
    )
    # deviation histogram by re-keying h1 — no second scan of orders
    h2 = (
        h1.join(F.broadcast(med), "prio")
        .groupBy("prio", F.abs(F.col("cents") - F.col("med")).alias("dev"))
        .agg(F.sum("c").alias("c"))
        .localCheckpoint(eager=True)
    )
    mad = histogram_median(h2, "dev").select(
        "prio", F.col("med_dev").alias("mad")
    )
    return (
        h2.join(F.broadcast(med), "prio")
        .join(F.broadcast(mad), "prio")
        .groupBy("prio")
        .agg(
            F.min("n").cast("bigint").alias("n_rows"),
            F.min("med").cast("bigint").alias("med_cents"),
            F.min("mad").cast("bigint").alias("mad_cents"),
            F.sum(
                F.when(2 * F.col("dev") > 3 * F.col("mad"), F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


#: Frequent-items sketch grain: retain a (day, user) cell only when
#: count · K > day_total — the Misra-Gries/SpaceSaving retention rule
#: with the guarantee that anything dropped has true count ≤ ⌊n_d/K⌋.
FREQ_K = 50


@query(
    "b153_freq_items_rollup",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, user_id,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    totals AS (
      SELECT d, CAST(sum(c) AS BIGINT) AS n_d,
             CAST(sum(c) // {FREQ_K} AS BIGINT) AS eps_d
      FROM daily GROUP BY 1),
    sketch AS (
      SELECT daily.d, daily.user_id, daily.c, totals.eps_d
      FROM daily JOIN totals USING (d)
      WHERE daily.c * {FREQ_K} > totals.n_d),
    week_eps AS (
      SELECT date_trunc('week', d) AS week,
             CAST(sum(eps_d) AS BIGINT) AS week_eps
      FROM totals GROUP BY 1)
    SELECT CAST(date_trunc('week', s.d) AS TIMESTAMP) AS week, s.user_id,
           CAST(sum(s.c) AS BIGINT) AS lower_cnt,
           CAST(sum(s.c) + w.week_eps - sum(s.eps_d) AS BIGINT) AS upper_cnt,
           CAST(count(*) AS BIGINT) AS n_days_retained
    FROM sketch s JOIN week_eps w ON date_trunc('week', s.d) = w.week
    GROUP BY 1, 2, w.week_eps
    """,
)
def b153_freq_items_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items (heavy-hitter) rollup — the day→week
    merge of per-day Misra-Gries-style summaries, completing the
    mergeable-sketch family (cardinality b60, quantiles b140, set
    algebra b141, count grids b143).  Per day, only (user, count)
    cells with count·K > n_d survive; anything dropped is provably
    ≤ ⌊n_d/K⌋.  The weekly merge sums surviving counts (lower bound)
    and adds each contributing day's dropped-mass cap for days where
    the user was NOT retained (upper bound): lower ≤ true weekly
    count ≤ upper, pinned against the exact rollup in
    tests/test_mining_invariants.py.

    Unlike streaming MG, the per-day summary here is an EXACT
    aggregate + threshold filter, so its content is independent of
    row order — which is what makes this sketch exactly replayable in
    DuckDB (stream-order-dependent MG is not) while keeping the same
    merge algebra and the same ⌊n/K⌋ error contract.

    Scale: one (day, user) groupBy (map-side combinable), a
    day-count-sized totals broadcast, and a weekly rollup over only
    the RETAINED cells — ≤ K per day by construction, so the merge
    input is days·K rows regardless of corpus size.  That bounded
    summary is the entire point: a year of per-day sketches for a
    10¹² -event stream is ≤ 365·K rows per item domain."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    totals = daily.groupBy("d").agg(
        F.sum("c").cast("bigint").alias("n_d"),
        F.expr(f"CAST(sum(c) DIV {FREQ_K} AS BIGINT)").alias("eps_d"),
    )
    sketch = (
        daily.join(F.broadcast(totals), "d")
        .filter(F.col("c") * FREQ_K > F.col("n_d"))
        .select("d", "user_id", "c", "eps_d")
    )
    week_eps = totals.groupBy(
        F.date_trunc("week", "d").alias("week")
    ).agg(F.sum("eps_d").cast("bigint").alias("week_eps"))
    return (
        sketch.withColumn("week", F.date_trunc("week", "d"))
        .join(F.broadcast(week_eps), "week")
        .groupBy("week", "user_id", "week_eps")
        .agg(
            F.sum("c").cast("bigint").alias("lower_cnt"),
            (F.sum("c") + F.first("week_eps") - F.sum("eps_d"))
            .cast("bigint")
            .alias("upper_cnt"),
            F.count(F.lit(1)).cast("bigint").alias("n_days_retained"),
        )
        .drop("week_eps")
    )


@query(
    "b163_grouped_trend",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(date_diff('second',
                  min(ts) OVER (PARTITION BY event_type), ts) AS HUGEINT)
               AS x,
             CAST(round(value * 1000000) AS HUGEINT) AS y
      FROM events WHERE isfinite(value)),
    m AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM base GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(round(86400.0
                       * (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE)))
                     AS BIGINT) END AS slope_micro_per_day
    FROM m
    """,
)
def b163_grouped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend: the least-squares slope of value over time
    for every event_type, in micro-value-units per day — the "is this
    metric drifting" reducer next to b125's seasonal z-score and
    b147's robust outliers.  slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    with every moment an EXACT integer sum (x = whole seconds since
    the group's first event, y = integer micro-values; sums in
    DECIMAL(38,0)/HUGEINT — b104's moment pattern, order-independent).
    The only floats are the final ratio of two exact integers ≤ 1e25
    (lossless-ordered double conversions in both engines) and one
    round at micro-per-day grain.

    Sizing: x ≤ 2.6e6 s (a 30-day window), y ≤ 1e9 µunits → n·Σxy ≤
    2.6e25 at 1e5 rows/group, inside DECIMAL(38,0) headroom up to
    ~1e12-row groups.  Scale: the min-ts window partitions BY
    event_type (group-wide parallelism); one moment aggregation
    map-side combines to a group-count-sized table; no joins."""
    # finite() before the min-ts window: a quarantined reading is not
    # the group's time origin either (same WHERE position as the oracle)
    ev = table(spark, sf_dir, "events").filter(finite("value"))
    w = Window.partitionBy("event_type")
    base = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.min("ts").over(w))
        ).cast(D38).alias("x"),
        F.round(F.col("value") * 1_000_000).cast(D38).alias("y"),
    )
    m = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(D38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(D38).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.when(den == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.round(
                F.lit(86400.0) * (num.cast("double") / den.cast("double"))
            ).cast("bigint")
        )
        .alias("slope_micro_per_day"),
    )


@query(
    "b164_ab_test",
    oracle="""
    WITH tagged AS (
      SELECT event_type,
             CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                             1, 8)) AS BIGINT) % 2 = 0
                  THEN 'a' ELSE 'b' END AS arm,
             CAST(round(value * 1000000) AS HUGEINT) AS y
      FROM events WHERE isfinite(value)),
    m AS (
      SELECT event_type, arm,
             CAST(count(*) AS HUGEINT) AS n,
             sum(y) AS s, sum(y * y) AS ssq,
             min(y) AS ymin, max(y) AS ymax
      FROM tagged GROUP BY 1, 2),
    w AS (
      SELECT a.event_type,
             CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
             CAST(round((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
                      - (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)))
               AS BIGINT) AS mean_diff_micro,
             CASE WHEN a.n + b.n <= 2
                    OR (a.ymin = a.ymax AND b.ymin = b.ymax)
             THEN NULL
             ELSE
             CAST(round(1000000.0 * (
               ((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
                - (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)))
               * ((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
                  - (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)))
               / ((((CAST(a.ssq AS DOUBLE)
                     - (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
                       * CAST(a.s AS DOUBLE))
                    + (CAST(b.ssq AS DOUBLE)
                       - (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
                         * CAST(b.s AS DOUBLE)))
                   / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0))
                  * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)))
             )) AS BIGINT) END AS z2_micro
      FROM m a JOIN m b ON a.event_type = b.event_type
      WHERE a.arm = 'a' AND b.arm = 'b')
    SELECT event_type, n_a, n_b, mean_diff_micro, z2_micro,
           coalesce(z2_micro > 3841459, FALSE) AS significant
    FROM w
    """,
)
def b164_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B significance per event_type: users hash-split
    50/50 by md5 (the deterministic, engine-portable bucketing every
    experimentation platform uses — b34's trick), then a pooled-
    variance two-sample test t² = (μ_a−μ_b)² / (s_p²·(1/n_a+1/n_b)),
    flagged at the χ²₁ 95% cut (3.841459).  The moments (n, Σy, Σy²)
    are EXACT integer sums in DECIMAL(38,0)/HUGEINT; the statistic is
    assembled from them in double with the identical expression tree
    in both engines and rounded once to micro — so the significance
    flag compares integers (the b147/b149 decision-predicate rule).

    Degenerate groups get an explicit NULL statistic instead of
    NaN/Inf: one row per arm (n_a+n_b ≤ 2, zero degrees of
    freedom) or zero pooled variance (both arms constant — checked as
    min(y) = max(y) on the EXACT integers, which cannot overflow at
    any scale, unlike the moment form n·Σy² − (Σy)² whose DECIMAL(38,0)
    products can; never the cancellation-prone double)
    → z2_micro NULL, significant false.  An event_type
    present in only one arm has no A/B contrast at all and is dropped
    by the inner a×b pairing — deliberate, mirrored in the oracle.

    Scale: one (event_type, arm) moment aggregation — map-side
    combinable to 2·|event types| rows; the a×b pairing is a join on
    that tiny table.  No second pass over events, no window, no skew
    exposure (arms are hash-balanced by construction)."""
    ev = table(spark, sf_dir, "events").filter(finite("value"))
    from .sampling import hash_bucket

    tagged = ev.select(
        "event_type",
        F.when(hash_bucket(F.col("user_id"), 2) == 0, "a")
        .otherwise("b")
        .alias("arm"),
        F.round(F.col("value") * 1_000_000).cast(D38).alias("y"),
    )
    m = tagged.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast(D38).alias("ssq"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )
    a = m.filter(F.col("arm") == "a").select(
        "event_type",
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ssq").alias("ssqa"),
        F.col("ymin").alias("ymina"), F.col("ymax").alias("ymaxa"),
    )
    b = m.filter(F.col("arm") == "b").select(
        "event_type",
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ssq").alias("ssqb"),
        F.col("ymin").alias("yminb"), F.col("ymax").alias("ymaxb"),
    )
    j = a.join(b, "event_type")
    dna = F.col("na").cast("double")
    dnb = F.col("nb").cast("double")
    dsa = F.col("sa").cast("double")
    dsb = F.col("sb").cast("double")
    dqa = F.col("ssqa").cast("double")
    dqb = F.col("ssqb").cast("double")
    mean_diff = (dsa / dna) - (dsb / dnb)
    pooled = ((dqa - (dsa / dna) * dsa) + (dqb - (dsb / dnb) * dsb)) / (
        dna + dnb - F.lit(2.0)
    )
    z2 = mean_diff * mean_diff / (pooled * (F.lit(1.0) / dna + F.lit(1.0) / dnb))
    # degeneracy on EXACT integer extrema: min(y) == max(y) ⟺ the arm
    # is constant ⟺ its variance is exactly 0.  The moment form
    # n·Σy² − (Σy)² is equivalent but its DECIMAL(38,0) intermediates
    # can exceed 38 digits at scale (ANSI throw / silent NULL) while
    # DuckDB's HUGEINT cannot — min/max has no intermediate at all.
    # The double ssq − (s/n)·s form is worse still:
    # cancellation residue could disagree with DuckDB at the boundary.
    degenerate = (
        (F.col("na") + F.col("nb") <= 2)
        | (
            (F.col("ymina") == F.col("ymaxa"))
            & (F.col("yminb") == F.col("ymaxb"))
        )
    )
    out = j.select(
        "event_type",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(mean_diff).cast("bigint").alias("mean_diff_micro"),
        F.when(degenerate, F.lit(None).cast("bigint"))
        .otherwise(F.round(F.lit(1_000_000.0) * z2).cast("bigint"))
        .alias("z2_micro"),
    )
    return out.withColumn(
        "significant", F.coalesce(F.col("z2_micro") > 3_841_459, F.lit(False))
    )
