"""Deterministic sampling operators for training-data pipelines.

Random sampling (``df.sample``) is seed- and partitioning-dependent —
re-running on a repartitioned corpus yields a different sample, which
poisons experiment reproducibility and makes incremental reprocessing
impossible.  Pipelines at scale instead sample by CONTENT HASH: a doc is
in the sample iff a hash of its stable key lands under the rate.  That
makes the sample (a) reproducible across runs/engines/partitionings,
(b) consistent under corpus growth (old docs never flip in/out), and
(c) oracle-checkable — md5 agrees everywhere, so these are exact
hash-checked queries, not rows-only approximations.

The reference (task.ts) has no sampling; this is north-star scope
(BASELINE.md "training-data pipeline ops").

100 TB: all three are single-pass map-side predicates or one window
shuffle; the hash is computed on an 8-byte key cast to string, never on
the document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import lift_parallelism, table
from ..registry import query


def hash_bucket(key: F.Column, buckets: int = 16) -> F.Column:
    """Deterministic bucket in [0, buckets) from the md5 of a key.

    First 8 hex chars → 32-bit int → modulo.  md5 is bit-identical in
    every engine (unlike xxhash64 seeds or murmur variants), so a
    bucket predicate is portable SQL: the cross-engine determinism is
    the point, not the hash quality — md5's avalanche is ample for
    rate-sampling."""
    return F.conv(F.substring(F.md5(key.cast("string").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    ) % buckets


SQL_BUCKET = (
    "CAST(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % {n}"
)


@query(
    "b34_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {SQL_BUCKET.format(key="doc_id", n=16)} < 2
    """,
)
def b34_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34: deterministic 2/16 Bernoulli sample of the corpus by
    doc_id content hash.  Pure map-side predicate — no shuffle, no
    state, no seed; the same docs are selected on any engine, any
    partitioning, any day."""
    d = table(spark, sf_dir, "documents")
    return d.filter(hash_bucket(F.col("doc_id"), 16) < 2).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "b34_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents) t
    WHERE rk <= 50
    """,
)
def b34_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34: stratified fixed-quota sample — exactly min(50, |stratum|)
    docs per language, chosen by md5 order so the quota set is
    deterministic and stable under corpus growth *appending* docs (a
    new doc displaces at most one sampled doc, never reshuffles the
    stratum).  One window shuffle on the stratum key; at 100 TB with a
    skewed stratum this is the rank-based top-k pattern, which
    map-side-prunes to quota+ε per partition before the exchange."""
    d = table(spark, sf_dir, "documents")
    w = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
        )
    )
    return (
        d.select("doc_id", "lang", "n_chars")
        .withColumn("rk", w)
        .filter(F.col("rk") <= 50)
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "b34_weighted_mix",
    oracle=f"""
    WITH rated AS (
      SELECT source, CASE source
               WHEN 'web' THEN 8 WHEN 'wiki' THEN 16 ELSE 4 END AS rate
      FROM (SELECT DISTINCT source FROM documents))
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN rated r ON d.source = r.source
    WHERE {SQL_BUCKET.format(key="d.doc_id", n=16)} < r.rate
    """,
)
def b34_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34: domain-weighted mixture — each source is down/up-weighted
    by its own deterministic sampling rate (wiki kept at 16/16, web at
    8/16, everything else 4/16), the standard recipe for rebalancing a
    crawl-dominated corpus before training.  The rate table broadcasts;
    the whole mix is still one map-side pass."""
    d = table(spark, sf_dir, "documents")
    rate = F.when(F.col("source") == "web", 8).when(
        F.col("source") == "wiki", 16
    ).otherwise(4)
    return (
        d.withColumn("rate", rate)
        .filter(hash_bucket(F.col("doc_id"), 16) < F.col("rate"))
        .select("doc_id", "source", "n_chars")
    )


@query(
    "b53_train_val_test",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN {SQL_BUCKET.format(key="doc_id", n=100)} < 80
                    THEN 'train'
                  WHEN {SQL_BUCKET.format(key="doc_id", n=100)} < 90
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, count(*) AS n_docs
    FROM tagged GROUP BY 1, 2
    """,
)
def b53_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical ML split: 80/10/10 train/val/test assigned by
    content-hash bucket — disjoint and exhaustive BY CONSTRUCTION (one
    bucket value maps to exactly one split), stable as the corpus
    grows (a new document never moves an old one across splits, the
    property random splits lack), and portable (md5 agrees in every
    engine).  Emitted as per-(split, lang) counts so the leakage-free
    partition is itself the checked artifact.

    Scale: one map-side bucket expression + a tiny groupBy — the split
    of a 100 TB corpus costs one scan, and writing the three splits is
    a partitionBy('split') on the same pass."""
    d = table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


#: b90: global document budget distributed across sources.
_MIX_TARGET = 200


@query(
    "b90_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source),
    weighted AS (
      SELECT source, n,
             CAST(floor(sqrt(n * 1000000.0)) AS BIGINT) AS w
      FROM counts),
    quota AS (
      -- CAST to BIGINT: DuckDB's sum(BIGINT) is HUGEINT, and HUGEINT
      -- division results coerce to float64 through the pandas path,
      -- which broke the value hash despite identical values.
      SELECT source, n, w,
             CAST(({_MIX_TARGET} * w) // (SELECT sum(w) FROM weighted)
                  AS BIGINT) AS q
      FROM weighted)
    SELECT d.doc_id, d.source, q.q AS source_quota
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents) d
    JOIN quota q ON d.source = q.source
    WHERE d.rk <= q.q
    """,
)
def b90_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED domain mixing (T = 0.5): each source's share
    of a fixed document budget is proportional to count^0.5 — the
    standard move for flattening a crawl-dominated corpus without
    discarding small domains entirely (multilingual/LLM sampling's
    p_s ∝ n_s^α with α = 1/2).  Counts go through an INTEGER
    micro-scaled sqrt (floor(sqrt(n·10⁶))) so the weight, the budget
    division (integer div), and therefore the selected set are
    bit-identical on every engine — no float-sum order sensitivity
    anywhere.  Selection within a source is md5-ordered (the b34
    growth-stable pick).

    Scale: one count aggregation, a source-cardinality quota table
    that BROADCASTS back, and one per-source rank window — the same
    top-k-per-group shape as b34_stratified_sample, map-side-pruned
    to quota+ε per partition before the exchange."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    weighted = counts.withColumn(
        "w", F.floor(F.sqrt(F.col("n") * F.lit(1_000_000.0))).cast("bigint")
    )
    # budget division over the SOURCE-cardinality weight table — the
    # unpartitioned window runs on ≤|sources| rows, never on the corpus
    # (and keeps the engine-wide no-nested-loop invariant: a 1-row
    # crossJoin would plan as BroadcastNestedLoopJoin)
    quota = weighted.withColumn(
        "tw", F.sum("w").over(Window.partitionBy())
    ).select(
        "source",
        F.expr(f"({_MIX_TARGET} * w) div tw").alias("source_quota"),
    )
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string").cast("binary")),
                F.col("doc_id"),
            )
        )
        .alias("rk"),
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .filter(F.col("rk") <= F.col("source_quota"))
        .select("doc_id", "source", "source_quota")
    )


@query(
    "b124_group_sample_k",
    oracle="""
    SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk
    FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                             doc_id) AS rk
          FROM documents)
    WHERE rk <= 5
    """,
)
def b124_group_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k-per-group deterministic sampling (here 5 docs per
    language): rank each group by a content-hash order and keep the
    first k — the fixed-size complement of b34's fixed-RATE hash
    sampling, for evaluation sets and per-stratum spot checks where
    "exactly k" is the contract.  Hash order makes the pick
    reproducible across engines and runs but uncorrelated with any
    natural column order; doc_id tiebreaks pin md5 collisions.

    Scale: one shuffle on the group key; the rank window sees each
    group once.  For heavy-hitter groups at extreme scale the
    refinement is pre-filtering with an approximate per-group hash
    threshold (keep ≈2k by hash range, then rank exactly) so no task
    sorts a giant group — the b14 top-k-per-group note applies
    verbatim."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "lang", F.col("rk").cast("int").alias("rk"))
    )


#: b133: epochs to materialize and shard fan-out per epoch.
_N_EPOCHS = 3
_N_SHARDS = 64


@query(
    "b133_epoch_shuffle",
    oracle=f"""
    WITH epochs AS (
      SELECT d.doc_id, e.epoch,
             md5(e.epoch || ':' || d.doc_id) AS k
      FROM documents d,
           (SELECT unnest(range({_N_EPOCHS})) AS epoch) e)
    SELECT epoch, doc_id,
           CAST(CAST('0x' || substr(k, 1, 4) AS INTEGER) % {_N_SHARDS}
                AS INTEGER) AS shard,
           CAST(row_number() OVER (
             PARTITION BY epoch,
                          CAST('0x' || substr(k, 1, 4) AS INTEGER)
                              % {_N_SHARDS}
             ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM epochs
    """,
)
def b133_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC MULTI-EPOCH SHUFFLE: every training epoch gets its
    own reproducible global permutation of the corpus, materialized as
    (epoch, shard, position-within-shard) — the data-order contract
    that makes a training run resumable and bitwise repeatable across
    engines and cluster sizes.  Epoch e's order key is md5(e ':'
    doc_id), so consecutive epochs are decorrelated without storing
    any state; the shard is the key's first 16 bits mod 64.

    Scale: NO global sort — the permutation is (shard, pos), where
    position ranking windows over (epoch, shard) partitions, each
    ~|corpus|/shards rows.  A trainer reads shard files in index
    order; total order is (epoch, shard, pos) without any single
    machine ever seeing a full epoch.  This is the
    repartitionByRange-free version of "shuffle 100 TB": one hash
    exchange on (epoch, shard), per-partition sorts only."""
    d = table(spark, sf_dir, "documents")
    epochs = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(_N_EPOCHS - 1))
        ).alias("epoch"),
    )
    k = F.md5(
        F.concat(
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        ).cast("binary")
    )
    keyed = epochs.select("epoch", "doc_id", k.alias("k"))
    shard = (
        F.conv(F.substring("k", 1, 4), 16, 10).cast("int") % _N_SHARDS
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    return (
        keyed.withColumn("shard", shard)
        .select(
            "epoch",
            "doc_id",
            F.col("shard").cast("int").alias("shard"),
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
    )


def _b144_oracle() -> str:
    # dedup has no import back into sampling (verified), so the oracle
    # assembles through the normal decorator path — no registry
    # mutation side-channel
    from .dedup import _CC_ORACLE_PREFIX, NGRAM_THRESHOLD, SQL_SHINGLES

    bucket = SQL_BUCKET.format(key="t.cluster_id", n=100)
    return (
        _CC_ORACLE_PREFIX.format(shingles=SQL_SHINGLES, thr=NGRAM_THRESHOLD)
        + f""",
    clusters AS (
      SELECT node AS doc_id, min(lab) AS cluster_id
      FROM reach GROUP BY node),
    tagged AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c USING (doc_id))
    SELECT CASE WHEN {bucket} < 80 THEN 'train'
                WHEN {bucket} < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT t.cluster_id) AS BIGINT) AS n_clusters
    FROM tagged t GROUP BY 1
    """
    )


@query("b144_leakage_safe_split", oracle=_b144_oracle())
def b144_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split — b53's hash split made
    near-duplicate-aware: assignment is keyed on the NEAR-DUP CLUSTER
    id (dedup.dup_clusters: connected components over the exact n-gram
    Jaccard pairs, the b29_cc_bigstar output), not the document id, so
    two near-duplicate documents can never land in different splits
    (the canonical eval-contamination bug: val/test "generalization"
    measured on near-copies of training docs).  Docs in no cluster are their own singleton cluster —
    b53's stability property (old docs never move as the corpus
    grows) is preserved within the unclustered majority.

    Scale: the cluster table is dup-graph-sized (orders of magnitude
    smaller than the corpus) and LEFT-joins back on doc_id; the split
    predicate stays a map-side md5 bucket on cluster_id.  Emitted as
    per-split doc/cluster counts; the no-straddling invariant is
    pinned edge-by-edge in tests/test_llmops.py."""
    from .dedup import dup_clusters

    d = table(spark, sf_dir, "documents")
    tagged = d.select("doc_id").join(dup_clusters(d), "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    b = hash_bucket(F.col("cluster_id"), 100)
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return (
        tagged.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
        )
    )


# --------------------------------------------- importance reweighting

#: DSIR hashed-feature space: bigrams → md5 buckets.  1024 buckets is
#: the demo grain (the paper uses 10⁴-10⁶ at web scale — the bucket
#: table stays broadcast-sized either way, which is the whole design).
DSIR_BUCKETS = 1024


@query(
    "b151_dsir_weights",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                  FROM documents),
    bg AS (
      SELECT doc_id, lang,
             {SQL_BUCKET.format(
                 key="t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1]",
                 n=DSIR_BUCKETS)} AS bucket
      FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
            FROM toks)),
    raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r_cnt
            FROM bg GROUP BY 1),
    tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS t_cnt
            FROM bg WHERE lang = 'en' GROUP BY 1),
    ratio AS (
      SELECT raw.bucket,
             CAST(round(1000000 * ln(
               ((coalesce(tgt.t_cnt, 0) + 1.0)
                  / ((SELECT sum(t_cnt) FROM tgt) + {DSIR_BUCKETS}.0))
               / ((raw.r_cnt + 1.0)
                  / ((SELECT sum(r_cnt) FROM raw) + {DSIR_BUCKETS}.0))
             )) AS BIGINT) AS logratio_micro
      FROM raw LEFT JOIN tgt USING (bucket)),
    per_doc AS (
      SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(ratio.logratio_micro) AS BIGINT) AS weight_micro
      FROM bg JOIN ratio USING (bucket) GROUP BY 1)
    SELECT d.doc_id, d.lang,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           coalesce(p.weight_micro, 0) AS weight_micro
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def b151_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hash every bigram
    into {DSIR_BUCKETS} md5 buckets, estimate add-1-smoothed bucket
    distributions for the TARGET (lang='en' here — stand-in for any
    high-quality reference corpus) and the RAW pool, and score each
    document by the summed log-likelihood ratio of its bigrams.  High
    weight = looks like the target; the downstream resample (b90's
    temperature mix / b34's samplers) consumes the weight column.

    Exactness: the per-bucket log ratio is rounded to integer
    micro-nats ONCE, in the bucket table (≤{DSIR_BUCKETS} rows); doc
    weights are then pure integer sums — order-independent and
    replayable, with md5 bucketing identical in both engines
    (hash_bucket's contract).

    Scale: the corpus is touched twice, both narrow (bigram explode →
    bucket groupBy, map-side combinable to ≤{DSIR_BUCKETS} rows; then
    per-(doc, bucket) counts joined to the BROADCAST ratio table).
    Totals attach as uncorrelated scalar subqueries.  No shuffle ever
    carries gram strings — only 8-byte bucket ids (the b139 lesson)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.arrays_zip(
        F.slice(toks, F.lit(1), n - 1), F.slice(toks, F.lit(2), n - 1)
    )
    bg = (
        lift_parallelism(d, "doc_id")
        .select("doc_id", "lang", F.explode(bigrams).alias("b"))
        .select(
            "doc_id",
            "lang",
            hash_bucket(
                F.concat_ws(" ", F.col("b.0"), F.col("b.1")), DSIR_BUCKETS
            ).alias("bucket"),
        )
    )
    bg.createOrReplaceTempView("dsir_bg_v")
    ratio = spark.sql(
        f"""
        WITH raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r_cnt
                     FROM dsir_bg_v GROUP BY 1),
        tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS t_cnt
                FROM dsir_bg_v WHERE lang = 'en' GROUP BY 1)
        SELECT raw.bucket,
               -- D-suffixed double literals: a bare 1.0 parses as
               -- DECIMAL in Spark SQL and decimal division truncates
               -- at ~1e-7, diverging from the oracle's double math
               CAST(round(1000000D * ln(
                 ((coalesce(tgt.t_cnt, 0) + 1.0D)
                    / ((SELECT sum(t_cnt) FROM tgt) + {DSIR_BUCKETS}.0D))
                 / ((raw.r_cnt + 1.0D)
                    / ((SELECT sum(r_cnt) FROM raw) + {DSIR_BUCKETS}.0D))
               )) AS BIGINT) AS logratio_micro
        FROM raw LEFT JOIN tgt USING (bucket)
        """
    )
    per_doc = (
        bg.groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("logratio_micro"))
            .cast("bigint")
            .alias("weight_micro"),
        )
    )
    return d.select("doc_id", "lang").join(per_doc, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("weight_micro", F.lit(0)).cast("bigint").alias("weight_micro"),
    )
