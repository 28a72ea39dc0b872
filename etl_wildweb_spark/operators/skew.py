"""Manual join hardening: salted joins and Bloom prefilters.

AQE's runtime skew-join split (on in session defaults) is the first
line of defense; salting is the explicit fallback for the cases AQE
can't fix — a skewed SHUFFLE KEY feeding a non-join operator chain, an
engine without AQE, or a join where one key holds so much of the data
that even split partitions overwhelm a task.  The technique: scatter
the hot key across ``n_salts`` sub-keys on the big side, replicate the
small side once per salt, join on (key, salt).  Shuffle partitions for
a hot key shrink by ~n_salts at the cost of replicating the small side
n_salts× — the classic replicated-join tradeoff.

The salt must be deterministic (SCALE.md: nondeterministic exchanges
disqualify ReusedExchange and break retry idempotency), so it is a hash
of the whole row, never ``rand()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``on`` with the big side's hot keys
    scattered across ``n_salts`` salts and the small side replicated per
    salt.  Result is row-identical to ``big.join(small, on, how)``
    (asserted in tests/test_skew.py); only the shuffle layout differs."""
    salt = F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in big.columns])), F.lit(n_salts)
    ).cast("int")
    b = big.withColumn(SALT, salt)
    s = small.withColumn(
        SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return b.join(s, [*on, SALT], how).drop(SALT)


from pyspark.sql import SparkSession  # noqa: E402

from ..io import table  # noqa: E402
from ..registry import query  # noqa: E402


@query(
    "b59_salted_join",
    oracle="""
    SELECT e.event_type, count(*) AS n,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.event_type
    """,
)
def b59_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted join as a registered, hash-checked query: events
    (user_id is the skewable key — real traffic is zipfian) joined to
    customer through the salt scatter, then aggregated.  Results are
    row-identical to the plain join (the oracle IS the plain join);
    only the shuffle layout differs — hot keys spread over 16 salts,
    small side replicated 16×."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type")
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    joined = salted_join(e, c, ["user_id"], n_salts=16)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


def salted_agg(
    df: DataFrame, keys: list[str], aggs: list, n_salts: int = 16
) -> DataFrame:
    """Two-phase SALTED AGGREGATION for skewed group keys: pre-aggregate
    on (keys, salt) — scattering a hot key's rows across ``n_salts``
    reducers — then merge the per-salt partials on the bare keys.  The
    second shuffle carries at most |keys|×n_salts rows, so the hot key's
    row volume never lands on one task.  ``aggs`` are (partial_expr,
    merge_fn, name) triples where merge_fn folds the partial column.

    This is what map-side combine already does for associative
    aggregates — made EXPLICIT so the pattern survives operators whose
    partial state Spark won't combine (collect_list-shaped, UDAFs) and
    engines without partial agg.  Deterministic salt (xxhash64 of the
    whole row), same argument as salted_join."""
    salt = F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in df.columns])), F.lit(n_salts)
    ).cast("int")
    partial = df.withColumn(SALT, salt).groupBy(*keys, SALT).agg(
        *[expr.alias(f"_p_{name}") for expr, _, name in aggs]
    )
    return partial.groupBy(*keys).agg(
        *[merge(F.col(f"_p_{name}")).alias(name) for _, merge, name in aggs]
    )


@query(
    "b73_salted_agg",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS total_micro,
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM events WHERE isfinite(value) GROUP BY event_type
    """,
)
def b73_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key aggregation via the explicit two-phase salt: events
    grouped by event_type (5 hot keys over ~1M rows at sf0.1 — exactly
    the shape where one reducer per key melts).  Oracle = the plain
    one-shot aggregate; equality proves the salt decomposition is
    invisible in the result, and tests/test_plans.py asserts the
    two-exchange shape with the first keyed on (event_type, salt).
    The value sum is integer micro-units (round(value*1e6) per row,
    BIGINT sum) — exact, associative across salt partials, and
    hash-stable (DECIMAL(38,6) came back float64 through DuckDB's
    pandas path and broke the value hash)."""
    from ..functions.exact import finite

    e = table(spark, sf_dir, "events").filter(finite("value"))
    micro = F.round(F.col("value") * 1_000_000).cast("bigint")
    aggs = [
        (F.count(F.lit(1)), F.sum, "n"),
        (F.sum(micro), lambda c: F.sum(c).cast("bigint"), "total_micro"),
        (F.max("user_id"), F.max, "max_user"),
    ]
    out = salted_agg(e.select("event_type", "value", "user_id"),
                     ["event_type"], aggs)
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "total_micro",
        F.col("max_user").cast("bigint").alias("max_user"),
    )


#: Bloom bit-array size for b110 (2^16 bits = 1024 64-bit words).  At a
#: real dim cardinality (|keys| ≪ m/10) the false-positive rate with two
#: probes is ~(|keys|·2/m)² — choose m per deployment; the STRUCTURE is
#: what scales, not this test constant.
BLOOM_BITS = 1 << 16


def _bloom_probe(key: F.Column, seed: int) -> F.Column:
    """Bit position for (key, seed): pmod(xxhash64(seed, key), m)."""
    return F.pmod(F.xxhash64(F.lit(seed), key), F.lit(BLOOM_BITS))


@query(
    "b110_bloom_prefilter_join",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem
    WHERE l_suppkey IN (
      SELECT s_suppkey FROM supplier JOIN nation
        ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3')
    GROUP BY l_returnflag
    """,
)
def b110_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit Bloom prefilter — the runtime-filter
    pattern made visible: the dim keys (suppliers of one nation) are
    folded into a 2-probe Bloom bitmap stored as (word_idx, bits) ROWS,
    the fact side tests membership via two broadcast EQUI-joins on
    word index (never a nested loop — the bitmap is a table, not a
    scalar), and survivors flow into the exact semi-join whose result
    the oracle checks.  Bloom false positives cannot leak: the exact
    join runs after, so the prefilter changes COST only, never rows —
    which is why a plain semi-join oracle hash-matches.

    Scale: at 100 TB the dim key set may be too large to broadcast for
    the exact join (it becomes a shuffle), but the Bloom bitmap stays
    broadcastable BY CONSTRUCTION — its size is the chosen m/64 words
    regardless of key count — and prunes the fact rows entering that
    shuffle by the non-member fraction.  This is what Spark's AQE
    runtime filters inject implicitly; owning the plan makes the
    mechanism testable (word-join shape asserted in tests/test_plans.py).
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    n3 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    dim = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n3), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )

    # build: dim keys → 2 bit positions each → OR-fold into 64-bit words
    words = (
        dim.select(
            F.explode(
                F.array(
                    _bloom_probe(F.col("s_suppkey"), 1),
                    _bloom_probe(F.col("s_suppkey"), 2),
                )
            ).alias("pos")
        )
        .select(
            F.expr("pos div 64").alias("widx"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )

    # probe: each fact row must find BOTH its probe bits set
    probed = li
    for seed in (1, 2):
        pos = _bloom_probe(F.col("l_suppkey"), seed)
        w = words.withColumnRenamed("widx", f"w{seed}").withColumnRenamed(
            "bits", f"bits{seed}"
        )
        probed = (
            probed.withColumn(f"p{seed}", pos)
            .join(
                F.broadcast(w),
                F.expr(f"p{seed} div 64") == F.col(f"w{seed}"),
            )
            .filter(
                F.expr(
                    f"shiftright(bits{seed}, cast(p{seed} % 64 as int)) & 1L"
                )
                == 1
            )
            .drop(f"p{seed}", f"w{seed}", f"bits{seed}")
        )

    # exact semi-join removes Bloom false positives
    exact = probed.join(F.broadcast(dim), probed.l_suppkey == dim.s_suppkey, "left_semi")
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
