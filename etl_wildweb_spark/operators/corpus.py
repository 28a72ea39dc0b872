"""Corpus-preparation operators over the documents table — the
operations a large-scale LLM training-data pipeline runs after cleaning
and dedup: chunking for context windows, n-gram language-model counts,
TF-IDF term ranking, quality-decile bucketing, and the per-source
dataset card.

All JVM-side (zero Python UDFs).  Scale notes per operator; the common
theme is that every shuffle here is either vocabulary-sized (orders of
magnitude below corpus size, thanks to map-side partial aggregation) or
a per-document narrow transform.

Determinism: every emitted number is integer (counts, scaled-integer
scores via DIV) so driver hash checks can't hit float-repr edges —
the functions/exact.py lesson applied corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..io import lift_parallelism, table
from ..registry import query
from .sampling import SQL_BUCKET, hash_bucket

#: Chunking geometry: 200-char windows, 150-char stride (50 overlap) —
#: the classic sliding context-window prep.  Shared with the oracles.
CHUNK_SIZE = 200
CHUNK_STRIDE = 150


@query(
    "b39_doc_chunk",
    oracle=f"""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text), 1),
                                    {CHUNK_STRIDE})) AS i
      FROM documents)
    SELECT doc_id,
           CAST((i - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(i AS BIGINT) AS chunk_start,
           substr(text, CAST(i AS INTEGER), {CHUNK_SIZE}) AS chunk,
           CAST(length(substr(text, CAST(i AS INTEGER), {CHUNK_SIZE}))
                AS BIGINT) AS chunk_len
    FROM starts
    """,
)
def b39_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking: fixed-size character windows with
    a stride, one row per (doc, chunk) — the prep step that turns
    variable-length documents into model-context-sized pieces while the
    overlap preserves cross-boundary text.

    Scale: posexplode(sequence(...)) is a narrow per-row transform — no
    shuffle at all; output rows ≈ corpus_chars / stride, written
    partition-parallel.  Empty documents still emit their one (empty)
    chunk so downstream accounting sees every doc_id."""
    d = table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    chunk = F.col("text").substr(F.col("chunk_start"), F.lit(CHUNK_SIZE))
    return (
        d.select("doc_id", "text", F.posexplode(starts).alias("pos", "chunk_start"))
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("chunk_id"),
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            chunk.alias("chunk"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
        )
    )


@query(
    "b42_bigram_lm",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    idx AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks),
    bg AS (SELECT t[CAST(i AS INTEGER)] AS w1,
                  t[CAST(i AS INTEGER) + 1] AS w2
           FROM idx),
    cnt AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
    wp AS (SELECT w1, w2, cnt,
                  sum(cnt) OVER (PARTITION BY w1) AS prefix_cnt
           FROM cnt)
    SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt,
           CAST(prefix_cnt AS BIGINT) AS prefix_cnt
    FROM wp ORDER BY cnt DESC, w1, w2 LIMIT 100
    """,
)
def b42_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model counts: top-100 bigrams with their count
    and the first-word continuation total (prefix_cnt), i.e. the exact
    integers behind P(w2|w1) = cnt / prefix_cnt — emitted as ints so the
    check is float-free and smoothing stays a downstream choice.

    Scale: the bigram explode is narrow; groupBy(w1, w2) map-side
    combines to vocabulary² (bounded far below corpus size); the
    prefix window is partitioned BY w1 — vocabulary-wide parallelism,
    never a global window; the final top-100 is a TakeOrdered, not a
    global sort.  Bigram pairs come from arrays_zip of two shifted
    slices — a plain collection expression, NOT a lambda HOF: the
    previous transform+element_at build was interpreted per element
    and measured 12× slower on the same data."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.arrays_zip(
        F.slice(toks, F.lit(1), n - 1), F.slice(toks, F.lit(2), n - 1)
    )
    bg = d.select(F.explode(bigrams).alias("b")).select(
        F.col("b.0").alias("w1"), F.col("b.1").alias("w2")
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    prefix = W.partitionBy("w1")
    return (
        cnt.withColumn("prefix_cnt", F.sum("cnt").over(prefix))
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(100)
    )


@query(
    "b43_tfidf_rank",
    oracle="""
    WITH tf AS (
      SELECT doc_id, t.token, count(*) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      GROUP BY 1, 2),
    dfreq AS (SELECT token, count(DISTINCT doc_id) AS doc_freq
              FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq,
             tf.tf * ((1000000 * n.n_docs) // dfreq.doc_freq) AS score
      FROM tf JOIN dfreq USING (token) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, token) AS rank
          FROM scored)
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
           CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(score AS BIGINT) AS score, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 3
    """,
)
def b43_tfidf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.  The idf is the SCALED-INTEGER
    (1e6·N) DIV df — monotone in ln(N/df) for ranking purposes and
    exactly reproducible cross-engine, where a float ln() could flip
    near-ties between engines and break the hash check.

    Scale: tf groupBy map-side combines to per-doc vocab; doc_freq is
    vocabulary-sized; N attaches as an UNCORRELATED SCALAR SUBQUERY —
    Catalyst executes it once as its own tiny stage and inlines the
    value, so the main plan stays pure hash joins (a constant-key join
    would constant-fold into BroadcastNestedLoop and trip the
    engine-wide plan sweep); the ranking window partitions by doc_id —
    full parallelism."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("docs_tfidf_v")
    return spark.sql(
        """
        WITH tf AS (
          SELECT doc_id, token, count(*) AS tf
          FROM (SELECT doc_id, explode(split(text, ' ')) AS token
                FROM docs_tfidf_v)
          GROUP BY 1, 2),
        dfreq AS (SELECT token, count(DISTINCT doc_id) AS doc_freq
                  FROM tf GROUP BY 1),
        scored AS (
          SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq,
                 tf.tf * ((1000000L * (SELECT count(*) FROM docs_tfidf_v))
                          DIV dfreq.doc_freq) AS score
          FROM tf JOIN dfreq USING (token)),
        r AS (SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, token) AS rank
              FROM scored)
        SELECT doc_id, token, tf, doc_freq, score, rank
        FROM r WHERE rank <= 3
        """
    )


@query(
    "b45_quality_deciles",
    oracle="""
    WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
    cum AS (SELECT n_chars, c,
                   COALESCE(sum(c) OVER (ORDER BY n_chars
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cb,
                   sum(c) OVER () AS tot
            FROM h),
    m AS (SELECT n_chars, least(9, (cb * 10) // tot) AS decile FROM cum)
    SELECT CAST(m.decile AS INTEGER) AS decile,
           count(*) AS n_docs,
           min(d.n_chars) AS min_chars, max(d.n_chars) AS max_chars,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d JOIN m USING (n_chars)
    GROUP BY 1
    """,
)
def b45_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile bucketing by a quality proxy (n_chars) WITHOUT a
    global row sort: aggregate to the VALUE histogram first (groupBy
    n_chars — map-side combines to |distinct values|, not |rows|), walk
    the cumulative counts over that tiny domain, then broadcast the
    value→decile map back onto the corpus.  decile(v) = ⌊10·|rows below
    v| / N⌋, capped at 9 — exact, deterministic, no percentile
    interpolation semantics to reconcile cross-engine.

    Scale: the only row-scale shuffle is the histogram groupBy; the
    cumulative window runs over distinct VALUES (~10⁵ at 100 TB — the
    documented single-partition bound, same class as the banded-join
    band table); the map joins back by BROADCAST.  This is how you do
    ntile at 100 TB — a global-ORDER ntile window is a one-partition
    scale-killer."""
    d = table(spark, sf_dir, "documents")
    hist = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    cum_w = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, -1)
    tot_w = W.partitionBy(F.lit(1))
    mapping = (
        hist.withColumn("cb", F.coalesce(F.sum("c").over(cum_w), F.lit(0)))
        .withColumn("tot", F.sum("c").over(tot_w))
        .select(
            "n_chars",
            F.least(F.lit(9), F.expr("cb * 10 DIV tot")).cast("int").alias("decile"),
        )
    )
    return (
        d.join(F.broadcast(mapping), "n_chars")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "b50_grouped_median",
    oracle="""
    WITH h AS (SELECT lang, n_chars, count(*) AS c
               FROM documents GROUP BY 1, 2),
    cum AS (SELECT lang, n_chars, c,
                   sum(c) OVER (PARTITION BY lang ORDER BY n_chars
                                ROWS UNBOUNDED PRECEDING) AS cumc,
                   sum(c) OVER (PARTITION BY lang) AS tot
            FROM h)
    SELECT lang,
           CAST(min(n_chars) AS BIGINT) AS median_chars,
           CAST(min(tot) AS BIGINT) AS n_docs
    FROM cum
    WHERE cumc >= (tot + 1) // 2
    GROUP BY lang
    """,
)
def b50_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median (percentile_disc(0.5): the smallest value
    whose cumulative count reaches ⌈n/2⌉) via the value-histogram walk —
    the grouped generalization of b45's decile trick, and the scalable
    replacement for a per-group sort-based percentile.

    Scale: the only row-scale shuffle is groupBy(lang, value) with
    map-side combine; both windows run over the per-group VALUE domain
    (|langs| × |distinct values|), partitioned by group — never a
    row-count-sized window.  Discrete selection keeps the result an
    exact input value: no interpolation semantics to reconcile
    cross-engine (the b10_percentile lesson)."""
    d = table(spark, sf_dir, "documents")
    hist = d.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    cum_w = (
        W.partitionBy("lang").orderBy("n_chars").rowsBetween(W.unboundedPreceding, 0)
    )
    tot_w = W.partitionBy("lang")
    cum = hist.select(
        "lang",
        "n_chars",
        F.sum("c").over(cum_w).alias("cumc"),
        F.sum("c").over(tot_w).alias("tot"),
    )
    return (
        cum.filter(F.col("cumc") >= F.expr("(tot + 1) DIV 2"))
        .groupBy("lang")
        .agg(
            F.min("n_chars").cast("bigint").alias("median_chars"),
            F.min("tot").cast("bigint").alias("n_docs"),
        )
    )


@query(
    "b63_quantile_bands",
    oracle="""
    WITH h AS (SELECT event_type, value, count(*) AS c
               FROM events GROUP BY 1, 2),
    cum AS (SELECT event_type, value, c,
                   sum(c) OVER (PARTITION BY event_type ORDER BY value
                                ROWS UNBOUNDED PRECEDING) AS cumc,
                   sum(c) OVER (PARTITION BY event_type) AS tot
            FROM h)
    SELECT event_type, CAST(min(tot) AS BIGINT) AS n,
           min(CASE WHEN cumc >= (tot * 50 + 99) // 100 THEN value END)
             AS p50,
           min(CASE WHEN cumc >= (tot * 95 + 99) // 100 THEN value END)
             AS p95,
           min(CASE WHEN cumc >= (tot * 99 + 99) // 100 THEN value END)
             AS p99
    FROM cum GROUP BY event_type
    """,
)
def b63_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring quantile bands (p50/p95/p99 per group) — b50's
    histogram walk generalized to a quantile SET, one pass: the q-th
    band is the smallest value whose cumulative count reaches
    ⌈q·n⌉ (exact integer thresholds, percentile_disc semantics).  All
    bands fall out of the same cumulative column, so adding quantiles
    is free; emitted values are RAW input values (no interpolation
    arithmetic), the safest float class for differential checks.

    Scale: identical to b50 — one row-scale histogram groupBy, windows
    over the per-group value domain, never row counts."""
    e = table(spark, sf_dir, "events")
    hist = e.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    cum_w = (
        W.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    tot_w = W.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "value",
        F.sum("c").over(cum_w).alias("cumc"),
        F.sum("c").over(tot_w).alias("tot"),
    )

    def band(q100: int, name: str):
        thr = F.expr(f"(tot * {q100} + 99) DIV 100")
        return F.min(F.when(F.col("cumc") >= thr, F.col("value"))).alias(name)

    return cum.groupBy("event_type").agg(
        F.min("tot").cast("bigint").alias("n"),
        band(50, "p50"),
        band(95, "p95"),
        band(99, "p99"),
    )


@query(
    "b46_dataset_card",
    oracle="""
    WITH per AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1)
    SELECT source, n_docs, n_tokens, n_langs, sum_chars,
           CAST((n_docs * 1000000) // sum(n_docs) OVER () AS BIGINT)
             AS share_ppm
    FROM per
    """,
)
def b46_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source dataset card: doc/token/char totals, language
    spread, and each source's share of the corpus in exact parts-per-
    million — the summary table a data-mixture decision actually reads.

    Scale: one row-scale groupBy(source) with map-side combine; the
    share window runs over the per-SOURCE aggregate (rows = |sources|,
    a constant) — bounded by construction, not by data."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    tot_w = W.partitionBy(F.lit(1))
    return per.withColumn("tot", F.sum("n_docs").over(tot_w)).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        "sum_chars",
        F.expr("n_docs * 1000000 DIV tot").cast("bigint").alias("share_ppm"),
    )


# ------------------------------------------------- Z-order data layout

#: Bits per dimension of the normalized grid the Z-value interleaves
#: (10+10 → 20-bit zval).
_Z_BITS = 10
#: Number of contiguous Z-range buckets in the emitted index (top 5
#: bits of the zval — the normalized domain is always fully used, so
#: fixed-shift bucketing is well-populated at every scale).
_Z_NBUCKETS = 32
#: Z-range width per bucket, DERIVED so the two constants cannot
#: drift (a hardcoded shift once made _Z_NBUCKETS dead).
_Z_BSHIFT = (1 << (2 * _Z_BITS)) // _Z_NBUCKETS


def _z_terms(x: str, y: str, intdiv: str) -> str:
    """The bit-interleave as pure integer div/mod/multiply arithmetic —
    one formula, rendered per engine (``intdiv`` = 'div' for Spark,
    '//' for DuckDB), so the oracle replays the exact same Z-values
    without relying on shared shift-operator syntax."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"((({x}) {intdiv} {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"((({y}) {intdiv} {1 << b}) % 2) * {1 << (2 * b)}")
    return " + ".join(terms)


def _z_grid(col: str, colmax: str, intdiv: str) -> str:
    """Normalize a key into the [0, 2^_Z_BITS) grid by its exact
    column max — Z-order needs comparable bit-widths per dimension,
    and raw keys of very different cardinality would let one dimension
    monopolize the high interleave bits (measured: suppkey boxes
    spanned 81% un-normalized, ~12% normalized)."""
    return f"(({col}) * {1 << _Z_BITS}) {intdiv} (({colmax}) + 1)"


@query(
    "b145_zorder_layout",
    oracle=f"""
    WITH m AS (
      SELECT max(l_partkey) AS pkmax, max(l_suppkey) AS skmax
      FROM lineitem),
    z AS (
      SELECT l_partkey, l_suppkey,
             {_z_terms(_z_grid("l_partkey", "m.pkmax", "//"),
                       _z_grid("l_suppkey", "m.skmax", "//"), "//")} AS zval
      FROM lineitem CROSS JOIN m)
    SELECT CAST(zval // {_Z_BSHIFT} AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_partkey) AS BIGINT) AS min_pk,
           CAST(max(l_partkey) AS BIGINT) AS max_pk,
           CAST(min(l_suppkey) AS BIGINT) AS min_sk,
           CAST(max(l_suppkey) AS BIGINT) AS max_sk
    FROM z GROUP BY 1
    """,
)
def b145_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) DATA LAYOUT — the multi-dimensional clustering
    that makes min/max file skipping work for MORE THAN ONE filter
    column at once: each dimension is normalized into a
    1024-cell grid by its exact column max (one scalar
    aggregate, broadcast — dimension of very different cardinality
    would otherwise monopolize the high bits), then the grid
    coordinates' bits interleave into a 1-D sort key under which every
    contiguous bucket covers a small RECTANGLE of the 2-D key space.
    A conjunctive range query on either or both columns prunes buckets
    by box intersection; a single-column sort gives perfect pruning on
    that column and NONE on the other — Z-order trades a little of
    each for usable pruning on both (the lakehouse OPTIMIZE ZORDER BY
    trick).

    The query emits the layout's own pruning index: per contiguous
    Z-range bucket, the row count and the (partkey, suppkey) min/max
    box — exactly what a scan planner consults to skip files.  The
    whole computation is integer div/mod arithmetic, identical in both
    engines: an exact-oracled layout decision.
    tests/test_bucketing.py measures the actual effect — a 2-D box
    query intersects several-fold fewer Z-sorted buckets than
    single-column-sorted ones.

    Scale: one scalar-max broadcast, one narrow zval map, one
    map-side-combining groupBy to 32 rows.  Writing the
    layout is ``repartitionByRange(zval).sortWithinPartitions(zval)``
    on the same expression — the stats table IS this query at file
    granularity."""
    li = table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.max("l_partkey").alias("pkmax"), F.max("l_suppkey").alias("skmax")
    )
    zexpr = _z_terms(
        _z_grid("l_partkey", "pkmax", "div"),
        _z_grid("l_suppkey", "skmax", "div"),
        "div",
    )
    return (
        li.crossJoin(F.broadcast(m))
        .select("l_partkey", "l_suppkey", F.expr(zexpr).alias("zval"))
        .groupBy(
            F.expr(f"zval div {_Z_BSHIFT}").cast("bigint").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").cast("bigint").alias("min_pk"),
            F.max("l_partkey").cast("bigint").alias("max_pk"),
            F.min("l_suppkey").cast("bigint").alias("min_sk"),
            F.max("l_suppkey").cast("bigint").alias("max_sk"),
        )
    )


#: BM25 demo query — four mid-frequency vocabulary terms.  k1/b are the
#: Robertson defaults; both appear as identical decimal literals in the
#: Spark SQL and the DuckDB oracle so the two engines parse the same
#: doubles and every arithmetic step is IEEE-identical.
BM25_TERMS = ("spark", "join", "window", "vector")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


@query(
    "b150_bm25_rank",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents),
    tf AS (
      SELECT doc_id, t.token, CAST(count(*) AS BIGINT) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      WHERE t.token IN ({_BM25_TERMS_SQL})
      GROUP BY 1, 2),
    dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id,
             CAST(round(1000000 * (
               ln(1.0 + ((SELECT count(*) FROM documents) - dfq.df + 0.5)
                        / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl)
                    / ((SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
                       / (SELECT count(*) FROM documents))))
             )) AS BIGINT) AS c_micro
      FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id)),
    score AS (
      SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM contrib GROUP BY 1)
    SELECT doc_id, score_micro, n_terms, CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (
            ORDER BY score_micro DESC, doc_id) AS rank FROM score)
    WHERE rank <= 20
    """,
)
def b150_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking (Robertson k1=1.2, b=0.75) for a fixed
    term set — the retrieval scorer behind corpus search / RAG-index
    quality checks, sitting beside b43's TF-IDF.  Per-(doc, term)
    contributions are rounded to integer micro-score units FIRST and
    integer-summed per doc, so the cross-doc aggregation is exact and
    order-independent; the only floats are per-row ln/÷ with identical
    literal structure in both engines (a 1-ulp libm skew is 9 orders
    of magnitude below the 1e-6 rounding grain — the mining.py rule).

    Scale: tokens are filtered to the query terms BEFORE the tf
    groupBy (predicate on the exploded stream — the corpus never
    shuffles unmatched tokens); df is a term-sized broadcast; N and
    avgdl attach as uncorrelated scalar subqueries (tiny independent
    stages, no BroadcastNestedLoop); the global top-20 plans as
    TakeOrderedAndProject (ORDER BY + LIMIT), never a one-partition
    rank window over all matching docs — the final row_number runs
    over the 20 surviving rows only."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("docs_bm25_v")
    return spark.sql(
        f"""
        WITH dl AS (
          SELECT doc_id, CAST(size(split(text, ' ')) AS BIGINT) AS dl
          FROM docs_bm25_v),
        tf AS (
          SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, explode(split(text, ' ')) AS token
                FROM docs_bm25_v)
          WHERE token IN ({_BM25_TERMS_SQL})
          GROUP BY 1, 2),
        dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY 1),
        contrib AS (
          SELECT tf.doc_id,
                 -- every float literal is D-suffixed: Spark parses a
                 -- bare 1.0 as DECIMAL and its decimal division
                 -- truncates at ~1e-7, silently diverging from the
                 -- oracle's pure-double arithmetic
                 CAST(round(1000000D * (
                   ln(1.0D + ((SELECT count(*) FROM docs_bm25_v) - dfq.df + 0.5D)
                            / (dfq.df + 0.5D))
                   * (tf.tf * 2.2D)
                   / (tf.tf + 1.2D * (0.25D + (0.75D * dl.dl)
                        / ((SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
                           / (SELECT count(*) FROM docs_bm25_v))))
                 )) AS BIGINT) AS c_micro
          FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id)),
        score AS (
          SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro,
                 CAST(count(*) AS BIGINT) AS n_terms
          FROM contrib GROUP BY 1),
        top AS (SELECT * FROM score
                ORDER BY score_micro DESC, doc_id LIMIT 20)
        SELECT doc_id, score_micro, n_terms,
               -- constant partition key: the window input is the
               -- 20-row LIMIT above, so one partition is the design;
               -- the explicit key documents that and silences Spark's
               -- empty-partition-spec warning (b45's tot_w pattern)
               CAST(row_number() OVER (PARTITION BY 'all'
                 ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank
        FROM top
        """
    )


#: LM-probability gate: flag a document when its MEAN per-bigram model
#: probability falls below this fixed-point q9 value (≈ the corpus
#: median mean-probability, so the demo flag is non-trivial on both
#: sides at all three test scales — 87/74/3209 of 500/500/5000 docs
#: flagged at sf0.001/0.01/0.1; CCNet picks its cut from held-out
#: percentiles the same way).
MEAN_P_TAU_Q9 = 33_500_000


@query(
    "b155_perplexity_filter",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    bg AS (
      SELECT doc_id, t[CAST(i AS INTEGER)] AS w1,
             t[CAST(i AS INTEGER) + 1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
    lm AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
           FROM bg GROUP BY 1, 2),
    pre AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS pc FROM lm GROUP BY 1),
    lp AS (
      SELECT lm.w1, lm.w2,
             CAST(CAST(1000000000 AS HUGEINT) * (lm.cnt + 1)
                  // (pre.pc + (SELECT count(DISTINCT w2) FROM bg))
               AS BIGINT) AS p_q9
      FROM lm JOIN pre USING (w1)),
    doc AS (
      SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(lp.p_q9) AS BIGINT) AS psum_q9
      FROM bg JOIN lp USING (w1, w2) GROUP BY 1)
    SELECT d.doc_id, d.lang,
           coalesce(doc.n_bigrams, 0) AS n_bigrams,
           coalesce(doc.psum_q9, 0) AS psum_q9,
           coalesce(doc.psum_q9
                    < {MEAN_P_TAU_Q9} * doc.n_bigrams, FALSE)
             AS high_perplexity
    FROM documents d LEFT JOIN doc USING (doc_id)
    """,
)
def b155_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM quality filter (the CCNet gate — Wenzek et al. 2020: score
    each document under a reference language model, cut the tail): an
    add-1-smoothed bigram LM is fit on the corpus (b42's counts),
    every bigram TYPE gets its EXACT fixed-point model probability
    p_q9 = ⌊10⁹·(cnt+1)/(pc+V)⌋ in the vocabulary²-sized LM table, and
    each document's probability mass psum_q9 is then a pure integer
    sum — order-independent and exactly replayable.  The flag compares
    mean probability below τ by integer cross-multiplication
    (psum_q9 < τ·n_bigrams), so no division ever happens; the
    geometric-mean view (true perplexity, a ln) is a downstream
    display scalar.

    This previously summed round(−10⁶·ln p) terms
    whose libm rounding sat one ulp from flipping on an unlucky corpus
    (a measured margin); the arithmetic-mean-probability
    gate carries the same low-quality-tail signal — documents of
    improbable bigrams score low under both means — on pure integer
    arithmetic, bit-identical in both engines.

    Scale: two corpus passes, both narrow (bigram explode → LM groupBy
    map-side combining to vocab²; then per-doc bigram counts joined to
    the BROADCAST LM table).  Vocabulary size attaches as an
    uncorrelated scalar subquery.  The q9 numerator 10⁹·(cnt+1) runs
    through DECIMAL(38,0) (HUGEINT in the oracle) — exact past the
    2⁶³ line at web-corpus counts.  Documents with no bigrams pass
    through the left join unflagged — the gate never silently drops
    rows it could not score (A19's error-channel principle)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.arrays_zip(
        F.slice(toks, F.lit(1), n - 1), F.slice(toks, F.lit(2), n - 1)
    )
    # lift_parallelism: the bigram explode is CPU-bound and narrow, so
    # it inherits the scan's split count — 2 local splits left 30 of 32
    # cores idle at the 16x probe (6.4x scaling; 1.6x after the lift)
    bg = (
        lift_parallelism(d, "doc_id")
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.0").alias("w1"), F.col("b.1").alias("w2"))
    )
    # Optimization (guide §2.4): Spark inlines SQL CTEs, so
    # the previous single-statement form recomputed the corpus bigram
    # explode FOUR times (lm counts, the pre marginal, the vocabulary
    # scalar subquery, and the per-doc join below).  The LM table is
    # vocabulary²-sized — materialize it once and derive the marginal
    # and the vocabulary from IT; V = count(DISTINCT w2) over the LM
    # types equals the same count over bigram occurrences by
    # definition.  Corpus explodes: 4 → 2 (LM build + per-doc join).
    lm = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    lm.createOrReplaceTempView("ppl_lm_v")
    lp = spark.sql(
        """
        WITH pre AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS pc
                     FROM ppl_lm_v GROUP BY 1)
        SELECT lm.w1, lm.w2,
               -- DECIMAL(38,0) keeps 10^9·(cnt+1) exact past 2^63;
               -- div floors identically to the oracle's HUGEINT //
               CAST(CAST(1000000000 AS DECIMAL(38,0)) * (lm.cnt + 1)
                    div CAST(pre.pc +
                      (SELECT count(DISTINCT w2) FROM ppl_lm_v)
                      AS DECIMAL(38,0))
                 AS BIGINT) AS p_q9
        FROM ppl_lm_v lm JOIN pre USING (w1)
        """
    )
    doc = (
        bg.join(F.broadcast(lp), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("p_q9").cast("bigint").alias("psum_q9"),
        )
    )
    return d.select("doc_id", "lang").join(doc, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("psum_q9", F.lit(0)).cast("bigint").alias("psum_q9"),
        F.coalesce(
            F.col("psum_q9") < MEAN_P_TAU_Q9 * F.col("n_bigrams"),
            F.lit(False),
        ).alias("high_perplexity"),
    )


@query(
    "b157_inverted_index",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    pos AS (
      SELECT doc_id, t[CAST(i AS INTEGER)] AS token, CAST(i AS BIGINT) AS p
      FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)),
    posting AS (
      SELECT token, doc_id,
             CAST(count(*) AS BIGINT) AS tf,
             CAST(min(p) AS BIGINT) AS first_pos,
             array_to_string(list_sort(list(p)), ',') AS positions
      FROM pos GROUP BY 1, 2),
    df AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
           FROM posting GROUP BY 1)
    SELECT posting.token, posting.doc_id, posting.tf, posting.first_pos,
           posting.positions, df.doc_freq
    FROM posting JOIN df USING (token)
    WHERE df.doc_freq * 10 <= (SELECT count(*) FROM documents)
    """,
)
def b157_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index build — the search/RAG index stage: one
    row per (term, doc) posting with term frequency, first position,
    the full sorted position list (serialized — phrase queries need
    positions), and the term's document frequency.  Rare-term postings
    only (df·10 ≤ N — an integer cross-multiplied cut that scales with
    the corpus): stopword-class terms are exactly the rows a
    positional index stores differently (block-compressed, or not at
    all), so the demo pins the selective part of the index.

    Scale: posexplode is narrow; the posting groupBy is the single
    row-scale shuffle, keyed (token, doc_id) — co-partitioned with how
    an index shard is actually written (term-sharded, doc-sorted
    within term); the position list is bounded by per-doc term
    frequency, never corpus size; df is a vocabulary-sized broadcast
    join.  The df filter prunes the fat head BEFORE the join output
    materializes."""
    d = table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "token")
    ).select("doc_id", "token", (F.col("p0") + 1).cast("bigint").alias("p"))
    # NOT materialized (measured by A/B): posting feeds both the df
    # rollup and the join probe, but the df branch's replay is COLUMN
    # PRUNED to (token, doc_id) — an eager checkpoint would
    # materialize the heavy positions strings for a branch that never
    # reads them (0.95 → 1.33 s min-of-3 with the checkpoint; guide §1
    # keeps the measurement).
    posting = pos.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.min("p").cast("bigint").alias("first_pos"),
        F.array_join(F.array_sort(F.collect_list("p")), ",").alias("positions"),
    )
    df = posting.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_freq")
    )
    d.createOrReplaceTempView("docs_invidx_v")
    # uncorrelated scalar subquery (b43's pattern): the corpus count
    # resolves as its own tiny stage at EXECUTION time — no driver-side
    # count() at plan-build time, so schema introspection stays lazy
    return posting.join(F.broadcast(df), "token").filter(
        F.expr("doc_freq * 10 <= (SELECT count(*) FROM docs_invidx_v)")
    )


@query(
    "b158_pmi_assoc",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (SELECT t[CAST(i AS INTEGER)] AS w1,
                  t[CAST(i AS INTEGER) + 1] AS w2
           FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)),
    cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
            FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1 FROM cnt GROUP BY 1),
    c2 AS (SELECT w2, CAST(sum(cnt) AS BIGINT) AS c2 FROM cnt GROUP BY 1),
    scored AS (
      SELECT cnt.w1, cnt.w2, cnt.cnt, c1.c1, c2.c2,
             CAST(CAST(1000000 AS HUGEINT)
                  * CAST((SELECT sum(cnt) FROM cnt) AS HUGEINT)
                  * CAST(cnt.cnt AS HUGEINT)
                  // (CAST(c1.c1 AS HUGEINT) * CAST(c2.c2 AS HUGEINT))
               AS BIGINT) AS assoc_q6
      FROM cnt JOIN c1 USING (w1) JOIN c2 USING (w2)
      WHERE cnt.cnt >= 5)
    SELECT w1, w2, cnt, c1, c2, assoc_q6
    FROM scored ORDER BY assoc_q6 DESC, w1, w2 LIMIT 50
    """,
)
def b158_pmi_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information collocation mining — the corpus
    analyst's association scorer (Church & Hanks 1990) — ranked on the
    EXACT integer association ratio: assoc_q6 = ⌊10⁶·N·c₁₂/(c₁·c₂)⌋
    over adjacent-bigram counts, top-50 pairs with support ≥ 5.  ln is
    strictly monotone, so ranking by the ratio IS ranking by
    pmi = ln(N·c₁₂/(c₁·c₂)); the nats-grade PMI value is a downstream
    display scalar (ln of the emitted exact ratio) and never touches a
    hash-compared column.

    The previous round(10⁶·ln(...)) micro-nat
    column sat one libm ulp from flipping on an unlucky corpus
    (a measured margin); the floor-scaled integer ratio is
    bit-identical in both engines.  Floor collisions between ratios
    closer than 10⁻⁶ are deterministic and tie-break on (w₁, w₂)
    identically on both sides.

    Scale: bigram counts map-side combine to vocabulary²; the marginal
    tables c₁/c₂ are vocabulary-sized broadcasts; N attaches as an
    uncorrelated scalar subquery; the top-50 plans as
    TakeOrderedAndProject — no global window anywhere.  The scaled
    numerator 10⁶·N·c₁₂ runs through DECIMAL(38,0) (HUGEINT in the
    oracle) — exact far past the 2⁶³ line; the emitted quotient is
    ≤ 10⁶·N/5 by the support floor, BIGINT-safe to N ~ 4·10¹⁰
    bigrams."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.arrays_zip(
        F.slice(toks, F.lit(1), n - 1), F.slice(toks, F.lit(2), n - 1)
    )
    bg = lift_parallelism(d, "doc_id").select(
        F.explode(bigrams).alias("b")
    ).select(F.col("b.0").alias("w1"), F.col("b.1").alias("w2"))
    # Optimization (guide §2.4): the single-statement form
    # inlined the cnt CTE into every consumer (c1, c2, the N scalar
    # subquery, scored), re-exploding the corpus four times.  cnt is
    # vocabulary²-sized — materialize it once; every downstream table
    # derives from it, so the corpus is exploded exactly ONCE.
    cnt = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    cnt.createOrReplaceTempView("pmi_cnt_v")
    return spark.sql(
        """
        WITH cnt AS (SELECT * FROM pmi_cnt_v),
        c1 AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1 FROM cnt GROUP BY 1),
        c2 AS (SELECT w2, CAST(sum(cnt) AS BIGINT) AS c2 FROM cnt GROUP BY 1),
        scored AS (
          SELECT cnt.w1, cnt.w2, cnt.cnt, c1.c1, c2.c2,
                 -- DECIMAL(38,0) keeps 10^6·N·c12 exact past 2^63;
                 -- div floors identically to the oracle's HUGEINT //
                 CAST(CAST(1000000 AS DECIMAL(38,0))
                      * CAST((SELECT sum(cnt) FROM cnt) AS DECIMAL(38,0))
                      * CAST(cnt.cnt AS DECIMAL(38,0))
                      div (CAST(c1.c1 AS DECIMAL(38,0))
                           * CAST(c2.c2 AS DECIMAL(38,0)))
                   AS BIGINT) AS assoc_q6
          FROM cnt JOIN c1 USING (w1) JOIN c2 USING (w2)
          WHERE cnt.cnt >= 5)
        SELECT w1, w2, cnt, c1, c2, assoc_q6
        FROM scored ORDER BY assoc_q6 DESC, w1, w2 LIMIT 50
        """
    )


@query(
    "b161_source_novelty",
    oracle="""
    WITH toks AS (SELECT source, string_split(text, ' ') AS t
                  FROM documents),
    g AS (
      SELECT DISTINCT source,
             t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1]
               || ' ' || t[CAST(i AS INTEGER) + 2] AS gram
      FROM (SELECT source, t, unnest(range(1, len(t) - 1)) AS i FROM toks)),
    firsts AS (SELECT gram, min(source) AS first_source FROM g GROUP BY 1),
    per AS (
      SELECT g.source,
             CAST(count(*) AS BIGINT) AS n_grams_distinct,
             CAST(sum(CASE WHEN firsts.first_source = g.source
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM g JOIN firsts USING (gram) GROUP BY 1)
    SELECT source, n_grams_distinct, n_novel,
           CAST((1000000 * n_novel) // n_grams_distinct AS BIGINT)
             AS novelty_ppm
    FROM per
    """,
)
def b161_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-diversity attribution per source — the dataset-mixing
    question "which source still adds NEW text?": every distinct
    3-gram is attributed to the first source (by source order) that
    contains it, and each source reports its distinct-gram count, its
    first-occurrence count, and the novelty ratio in ppm.  A source
    whose novelty_ppm collapses is already covered by the sources
    before it — the greedy submodular-coverage signal data-mixing
    uses.

    Scale: one explode → (source, gram) DISTINCT (the row-scale
    shuffle, map-side combinable); first-occurrence is a min() over
    the gram-keyed table — same key, so Catalyst reuses the
    partitioning with NO second exchange of gram strings; per-source
    rollup is source-cardinality-sized.  Integer ppm division via
    `div` — no floats anywhere."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # slice() throws INVALID_PARAMETER_VALUE.LENGTH on a negative
    # length, so a 1- or 2-token doc (n-2 ≤ 0) would crash the whole
    # query at runtime; clamp to 0 so short docs contribute zero grams
    # — exactly what the oracle's range(1, len(t)-1) yields.
    n = F.greatest(F.size(toks) - 2, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, F.lit(1), n),
        F.zip_with(
            F.slice(toks, F.lit(2), n),
            F.slice(toks, F.lit(3), n),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    # Optimization (guide §2.4): the previous
    # distinct → groupBy(min) → join-back plan consumed the distinct
    # (source, gram) frame twice (2 corpus explodes) and shuffled the
    # gram strings three times (distinct, firsts, join).  One
    # gram-keyed collect_set pass carries the same information: the
    # set IS the distinct source list (n_grams_distinct = set
    # membership), and array_min(set) IS the first source (binary
    # string min, identical to min()).  One explode, ONE row-scale
    # shuffle (map-side combined), bounded sets (≤ |sources| per gram).
    # collect_set silently DROPS null elements, while the earlier
    # distinct+join plan (and the DuckDB oracle's GROUP BY source)
    # kept a NULL-source group — a latent hash divergence if
    # documents.source were ever null.  The corpus fixture guarantees
    # non-null sources (TESTDATA.md); make that invariant explicit and
    # pushdown-visible with a scan-level filter, so a null-source corpus
    # changes the answer HERE, loudly in the plan, instead of silently
    # inside an aggregate's null policy.
    sets = (
        lift_parallelism(d.filter(F.col("source").isNotNull()), "doc_id")
        .select("source", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.collect_set("source").alias("ss"))
    )
    per = (
        sets.select(
            F.array_min("ss").alias("first_source"),
            F.explode("ss").alias("source"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams_distinct"),
            F.sum(
                F.when(F.col("first_source") == F.col("source"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per.select(
        "source",
        "n_grams_distinct",
        "n_novel",
        F.expr("CAST((1000000 * n_novel) div n_grams_distinct AS BIGINT)").alias(
            "novelty_ppm"
        ),
    )


# ----------------------------------------- linear quality classifier

#: Feature-hash dimensionality for the linear classifier — at
#: production scale fastText uses 2M bigram buckets; the kernel is the
#: same at any D because the weight side stays a broadcast dim table.
QC_BUCKETS = 256
#: Decision threshold in micro-logits per gram (cross-multiplied, so
#: the comparison is pure-integer like b155's perplexity gate).
QC_THRESH_MICRO = 0




@query(
    "b178_quality_classifier",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    uni AS (SELECT doc_id, 'u:' || unnest(t) AS g FROM toks),
    bi AS (
      SELECT doc_id,
             'b:' || t[CAST(i AS INTEGER)] || ' '
                  || t[CAST(i AS INTEGER) + 1] AS g
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
    grams AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi),
    feats AS (SELECT doc_id, {SQL_BUCKET.format(key='g', n=QC_BUCKETS)} AS bkt
              FROM grams),
    w AS (SELECT b AS bkt,
                 {SQL_BUCKET.format(key="'qw:' || CAST(b AS VARCHAR)",
                                    n=QC_BUCKETS)} * 8 - 1020
                   AS w_micro
          FROM range({QC_BUCKETS}) t(b)),
    doc AS (SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(w.w_micro) AS BIGINT) AS logit_micro_total
            FROM feats f JOIN w USING (bkt) GROUP BY 1)
    SELECT d.doc_id, d.lang, doc.n_grams, doc.logit_micro_total,
           doc.logit_micro_total > {QC_THRESH_MICRO} * doc.n_grams
             AS high_quality
    FROM documents d JOIN doc USING (doc_id)
    """,
)
def b178_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized linear text-quality classifier (the fastText shape —
    Joulin et al. 2017: a document's score is the mean of its hashed
    n-gram feature weights through a linear layer) — the standard
    public pretraining quality gate beside the perplexity filter b155
    (CCNet pairs exactly these two).  Unigrams and adjacent bigrams
    are feature-hashed into QC_BUCKETS buckets (Weinberger et al.
    2009) with the portable md5 bucket (sampling.hash_bucket's trick),
    each bucket carries an integer micro-logit weight, and the
    document's decision is logit_total > THRESH·n_grams by integer
    cross-multiplication — no division, no float, exactly replayable.

    The weights here are a deterministic stand-in derived from the
    bucket id (md5 affine-mapped into [-1020, 1020] micro-logits) so
    the KERNEL is oracle-checkable end-to-end; production swaps the
    256-row generated dim for the offline-trained weight table and
    nothing else changes.  Gram keys are type-prefixed ('u:' / 'b:'
    with a literal-space joiner) so a unigram containing '_' can never
    collide with a bigram key; words come from literal-space split on
    both engines (the b42/b155 house rule — tabs/newlines stay inside
    words).

    Engine shape at 100 TB: one narrow gram explode (map-side, scan
    parallelism lifted), bucket assignment as a JVM md5 expression in
    whole-stage codegen, a BROADCAST equi-join against the
    QC_BUCKETS-row weight dim (the 'dot product with a broadcast
    weight matrix' — no shuffle), and ONE map-side-combining groupBy
    on doc_id.  The corpus is read once; nothing driver-side."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    unigrams = F.transform(toks, lambda w: F.concat(F.lit("u:"), w))
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), n - 1),
        F.slice(toks, F.lit(2), n - 1),
        lambda a, b: F.concat(F.lit("b:"), a, F.lit(" "), b),
    )
    feats = (
        lift_parallelism(d, "doc_id")
        .select("doc_id", F.explode(F.concat(unigrams, bigrams)).alias("g"))
        .select(
            "doc_id",
            hash_bucket(F.col("g"), QC_BUCKETS).alias("bkt"),
        )
    )
    weights = spark.range(QC_BUCKETS).select(
        F.col("id").cast("bigint").alias("bkt"),
        (
            hash_bucket(
                F.concat(F.lit("qw:"), F.col("id").cast("string")), QC_BUCKETS
            )
            * 8
            - 1020
        ).alias("w_micro"),
    )
    doc = (
        feats.join(F.broadcast(weights), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("w_micro").cast("bigint").alias("logit_micro_total"),
        )
    )
    return (
        d.select("doc_id", "lang")
        .join(doc, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_grams",
            "logit_micro_total",
            (F.col("logit_micro_total") > QC_THRESH_MICRO * F.col("n_grams")).alias(
                "high_quality"
            ),
        )
    )
