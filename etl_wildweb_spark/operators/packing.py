"""Sequence packing — batching documents into fixed token budgets.

Training pipelines pack variable-length documents into fixed-size
context windows (e.g. 2048 tokens) to avoid padding waste.  Packing is
inherently sequential WITHIN a stream — bin assignment depends on the
running fill — but embarrassingly parallel ACROSS streams, which is
exactly Spark's ``applyInPandas`` contract: partition by stream key
(here ``source``; at 100 TB, (source, shard) with ~10⁵ shards), order
within the group, run the greedy fold in Arrow-batched pandas.

The greedy rule: walk docs in (deterministic) doc_id order, keep a
running fill, start a new bin when the next doc would overflow the
budget.  A doc larger than the budget occupies a bin alone (real
pipelines then truncate or split it — out of scope here).  The DuckDB
oracle replays the identical fold as a recursive CTE, so this
sequential-looking operator is still exactly hash-checked.

The reference (task.ts) has none of this; north-star scope
(BASELINE.md "training-data pipeline ops").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..registry import query

BUDGET = 512  # tokens per packed sequence

# ~4 chars/token: the standard fast estimate when packing by byte
# length; swap in b31_bpe_token_count's tokenizer for exact counts.
TOKENS = "CAST(ceil(n_chars / 4.0) AS INT)"

_PACK_SCHEMA = "source string, doc_id long, n_tokens int, bin long"


def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins, fill, b = [], 0, 0
    for t in pdf["n_tokens"]:
        if fill and fill + t > BUDGET:
            b += 1
            fill = 0
        fill += t
        bins.append(b)
    pdf["bin"] = pd.Series(bins, dtype="int64")
    return pdf[["source", "doc_id", "n_tokens", "bin"]]


@query(
    "b35_sequence_pack",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT source, doc_id, {TOKENS} AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    pack(source, rn, doc_id, n_tokens, bin, fill) AS (
      SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN p.fill > 0 AND p.fill + d.n_tokens > {BUDGET}
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + d.n_tokens > {BUDGET}
                  THEN d.n_tokens ELSE p.fill + d.n_tokens END
      FROM pack p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
    SELECT source, doc_id, n_tokens, bin FROM pack
    """,
)
def b35_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35: greedy sequence packing into {BUDGET}-token bins, one
    independent bin sequence per source stream.  applyInPandas keeps
    the sequential fold off the JVM hot path but Arrow-batched; the
    shuffle is one exchange on the stream key.  Estimated token counts
    (n_chars/4) keep the fold integer-exact cross-engine."""
    d = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.expr(TOKENS).alias("n_tokens")
    )
    return d.groupBy("source").applyInPandas(_pack_group, _PACK_SCHEMA)


@query(
    "b35_pack_utilization",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT source, doc_id, {TOKENS} AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    pack(source, rn, doc_id, n_tokens, bin, fill) AS (
      SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN p.fill > 0 AND p.fill + d.n_tokens > {BUDGET}
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + d.n_tokens > {BUDGET}
                  THEN d.n_tokens ELSE p.fill + d.n_tokens END
      FROM pack p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
    SELECT source, count(DISTINCT bin) AS n_bins,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM pack GROUP BY source
    """,
)
def b35_pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35: packing efficiency report — bins used and total tokens per
    stream, the inputs to the utilization metric that tells you whether
    greedy packing is wasting accelerator time (total_tokens /
    (n_bins·BUDGET) ≪ 1 means you want length-sorted or offline
    bin-packing instead).  Only exact integers are emitted — the
    derived ratio is left to the consumer, keeping the result
    bit-identical across engines (float division canonicalizes
    differently between Spark and SQL engines)."""
    packed = b35_sequence_pack(spark, sf_dir)
    return packed.groupBy("source").agg(
        F.countDistinct("bin").alias("n_bins"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ------------------------------------ concat-and-chunk context layout

#: Context window size for the concat layout (tokens per chunk).
CHUNK = 512
#: End-of-document separator token inserted between concatenated docs.
EOD = "<eod>"
@query(
    "b142_concat_chunk",
    oracle=f"""
    WITH ordered AS (
      SELECT doc_id,
             str_split(text, ' ') || ['{EOD}'] AS ts,
             md5(CAST(doc_id AS VARCHAR)) AS sk
      FROM documents),
    offs AS (
      SELECT doc_id, ts,
             COALESCE(sum(len(ts)) OVER (
               ORDER BY sk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
      FROM ordered),
    toks AS (
      SELECT doc_id,
             off + generate_subscripts(ts, 1) - 1 AS gpos,
             unnest(ts) AS tok
      FROM offs)
    SELECT CAST(gpos // {CHUNK} AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           string_agg(tok, ' ' ORDER BY gpos) AS chunk_text
    FROM toks GROUP BY 1
    """,
)
def b142_concat_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCAT-AND-CHUNK CONTEXT LAYOUT — the other standard training
    data layout beside first-fit packing (b35): shuffle documents into
    a deterministic pseudo-random order (md5 of doc_id, b133's trick),
    concatenate every token stream with an ``<eod>`` separator, and
    slice the single global stream into fixed {CHUNK}-token context
    windows that CROSS document boundaries — every window except the
    last is exactly full (zero padding waste, the property first-fit
    packing only approximates).

    The global token offset is a distributed two-phase prefix sum, NOT
    a single-partition window: each document's shard is its sort key's
    first hex nibble (md5 is uniform, shards are ordered key ranges by
    construction — deterministic and data-independent, no sampled
    range boundaries to trust), per-shard token totals (16 rows)
    cumulated by a bounded 16-row window and broadcast back as shard
    base offsets, and the
    within-shard running sum is a shard-partitioned window.  The chunk
    reassembly groupBy then shuffles each token to its window — that
    shuffle IS the output layout being produced, the one unavoidable
    movement.  The DuckDB oracle replays the same arithmetic with its
    (local) global window — identical offsets, exact hash check."""
    d = table(spark, sf_dir, "documents")
    ts = F.concat(F.split("text", " "), F.array(F.lit(EOD)))
    docs = (
        d.select(
            "doc_id",
            ts.alias("ts"),
            F.md5(F.col("doc_id").cast("string")).alias("sk"),
        )
        # shard = first hex nibble of sk: shard b holds exactly the sk
        # range [b0.., (b+1)0..), so (pid asc, sk asc) IS global order
        .withColumn(
            "pid", F.conv(F.substring("sk", 1, 1), 16, 10).cast("int")
        )
        .withColumn("n", F.size("ts").cast("bigint"))
    )
    # phase 1: per-shard totals cumulated into base offsets — 16 rows,
    # so the unpartitioned exclusive-sum window below is bounded by
    # construction (the pq_codebooks argument), and the whole plan
    # stays LAZY: no driver-side collect at build time, so schema-only
    # introspection of this query executes nothing.
    from pyspark.sql.window import Window as W

    shard_w = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    base_df = F.broadcast(
        docs.groupBy("pid")
        .agg(F.sum("n").alias("tot"))
        .select(
            "pid",
            F.coalesce(F.sum("tot").over(shard_w), F.lit(0)).alias("base"),
        )
    )
    # phase 2: within-partition exclusive running sum + partition base

    run = (
        W.partitionBy("pid")
        .orderBy("sk", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = docs.join(base_df, "pid").select(
        "doc_id",
        "ts",
        (F.coalesce(F.sum("n").over(run), F.lit(0)) + F.col("base")).alias(
            "off"
        ),
    )
    toks = offs.select(
        "doc_id",
        F.posexplode("ts").alias("p0", "tok"),
        F.col("off"),
    ).select(
        "doc_id", (F.col("off") + F.col("p0")).alias("gpos"), "tok"
    )
    return (
        toks.groupBy(
            # integer `div`, never float `/`+cast (exact at any size)
            F.expr(f"gpos div {CHUNK}").alias("chunk_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gpos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("chunk_text"),
        )
    )
