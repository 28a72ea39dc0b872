"""Suffix-array-quality EXACT-SUBSTRING dedup (SURVEY.md beyond-§2;
the upgrade of b139's K-gram-anchor approximation to the full
ExactSubstr semantics of Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better").

b139 (operators/text.py) deduplicates TOKEN-level spans repeated across
>= 2 DISTINCT DOCUMENTS.  True suffix-array ExactSubstr differs in two
ways, both closed here:

1. granularity — spans are CHARACTER-level (the paper uses 50 bytes;
   here ``EXSUB_K`` = 40 chars), so a duplicated phrase is caught even
   when token boundaries disagree;
2. occurrence counting — a span occurring at >= 2 distinct (doc, pos)
   positions ANYWHERE in the corpus is a duplicate, including twice
   within the SAME document and including self-overlapping repeats
   (``aaaa…`` counts) — exactly what "appears more than once in the
   suffix array of the concatenated corpus" means.

Semantic equivalence to the suffix-array formulation (no approximation):
a character position p is inside some duplicated span of length >= K
iff p is covered by some duplicated K-char window — (⇐) any span of
length >= K containing p contains a K-window around p, and every
K-window of a duplicated span is itself duplicated; (⇒) a duplicated
K-window IS a duplicated span of length K.  So the union of positions
of duplicated K-windows equals the union of positions of maximal
duplicated spans, which is precisely what ExactSubstr excises.  A
suffix array is one ALGORITHM for finding that set; this operator
computes the same set with corpus-wide group-bys instead.

Scale (the reason NOT to build a distributed suffix array): both
representations carry one entry per corpus character.  Prefix-doubling
suffix-array construction is O(log n) full-corpus SORT rounds; the
window-hash formulation is ONE map-side-combinable groupBy over 8-byte
xxhash64 keys (phase 1), then string verification restricted to the
zipfian-head survivors (phase 2) — candidates-then-verify, the same
architecture as the MinHash/LSH stack.  Phase 1 ships BOTH hashing
regimes, pinned equivalent: per-window xxhash64 in whole-stage codegen
(O(n·K) hashing, zero Python — the default, and the measured winner on
short-document corpora where the Arrow round-trip of the per-position
stream outweighs the K× hashing), and an O(n) Karp–Rabin rolling hash
over the concatenated Arrow batch (``phase1="rolling"`` — the regime
for large K / long documents).  The rewrite phase touches only
documents that actually contain a duplicated span (the overwhelming
minority), never re-exploding the clean corpus — b139's touched-only
pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import lift_parallelism, table
from ..registry import query

#: Duplicated-span threshold, in characters (Lee et al. use 50 bytes;
#: 40 chars keeps the synthetic corpus' planted duplicates in range).
EXSUB_K = 40


def _rolling_hash_stream(d: DataFrame, k: int) -> DataFrame:
    """Phase 1 as an O(n) Karp–Rabin rolling hash — the 100 TB hashing
    path.  The JVM path hashes K chars per window (O(n·K) work,
    whole-stage codegen — the right trade at bench scale); this path
    computes ALL window hashes of a document in O(n) total via the
    prefix-product form of the polynomial hash over Z/2^64:

        h(i) = Σ_{t<k} c[i+t]·B^{k-1-t}
             = B^{k-1+i} · (S[i+k] − S[i]),  S[m] = Σ_{j<m} c[j]·B^{−j}

    B odd ⇒ invertible mod 2^64, so B^{−j} is a plain uint64 cumprod
    and the whole thing is three numpy vector ops per document —
    parallel across documents, Arrow-batched, no shuffle.  Characters
    are UTF-32 code points, so positions agree exactly with Spark's
    char-based substring/length and the oracle's len().  Any 64-bit
    hash is admissible here: phase 2 re-verifies true strings, so a
    different hash family than the JVM path's xxhash64 changes only
    collision noise, never the result (equivalence pinned in
    tests/test_llmops.py).  Returns (doc_id, i, gh) like the JVM path.
    """
    import numpy as np
    import pandas as pd

    B = 0x100000001B3  # FNV-64 prime, odd ⇒ invertible mod 2^64
    B_INV = pow(B, -1, 1 << 64)

    def batches(it):
        b = np.uint64(B)
        b_inv = np.uint64(B_INV)
        for pdf in it:
            # Vectorize ACROSS documents, not per document: a first
            # per-doc-loop implementation spent its time in per-doc
            # numpy setup (~0.2 ms × |docs| dominates for short docs —
            # measured 16.8 s vs 9.1 s JVM at the 16x sweep).  The
            # prefix-product algebra is position-translation-invariant
            # — h(p) = B^{k-1+p}·(S[p+k]−S[p]) holds with GLOBAL
            # positions p over the concatenated batch — so the whole
            # batch is one cumprod/cumsum pass; windows that straddle a
            # document boundary are masked out afterwards.
            texts = pdf["text"].to_list()
            if not texts:
                continue
            joined = "".join(texts)
            c = np.frombuffer(
                joined.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            n = len(c)
            if n < k:
                continue
            lens = np.fromiter(
                (len(t) for t in texts), dtype=np.int64, count=len(texts)
            )
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            doc_idx = np.repeat(np.arange(len(texts)), lens)
            with np.errstate(over="ignore"):
                inv_pow = np.cumprod(
                    np.concatenate(([np.uint64(1)], np.full(n - 1, b_inv)))
                )  # B^{-p}
                s = np.concatenate(
                    ([np.uint64(0)], np.cumsum(c * inv_pow))
                )  # S[m]
                lead = np.cumprod(
                    np.concatenate(
                        ([b ** np.uint64(k - 1)], np.full(n - k, b))
                    )
                )  # B^{k-1+p}
                h = lead * (s[k:] - s[: n - k + 1])
            p = np.arange(n - k + 1)
            valid = doc_idx[p] == doc_idx[p + k - 1]
            p = p[valid]
            didx = doc_idx[p]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[didx],
                    "i": p - starts[didx] + 1,
                    "gh": h[valid].view(np.int64),
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        batches, "doc_id bigint, i bigint, gh bigint"
    )


def exact_substring_dedup(
    d: DataFrame, k: int = EXSUB_K, phase1: str = "jvm"
) -> DataFrame:
    """ExactSubstr over any (doc_id, text) frame: every maximal
    character span of length >= k whose text occurs at >= 2 distinct
    (doc_id, position) corpus positions is excised from EVERY
    occurrence.  Returns (doc_id, n_chars, n_removed, clean_text).

    Separated from the registered query so the planted-span boundary
    fixture (tests/test_llmops.py) drives the exact semantics — the
    >=2-occurrences rule, the same-document repeat, the overlapping
    self-repeat, and the k-1 boundary — against a pure-Python replay.
    """
    # NULL text normalizes to '' up front: without this the two
    # phase-1 paths diverge (the JVM length() filter silently drops a
    # null row; the Arrow batch join would raise on it) and the output
    # row would carry NULL n_chars/clean_text — a (0, 0, '') row is
    # the consistent answer, matching the oracle's COALESCE.
    d = d.withColumn("text", F.coalesce("text", F.lit("")))
    d = lift_parallelism(d, "doc_id")
    n_chars = F.length("text")

    # phase 1: candidate windows as 8-byte hashes — one row per char
    # position, NEVER a materialized gram string; the corpus-wide
    # frequency shuffle carries (gh) only.  Two pinned-equivalent
    # hashing paths: "jvm" (default — per-window xxhash64 inside
    # whole-stage codegen, zero Python; measured the better trade on
    # this corpus at both 1x and 16x, because with ~300-char docs and
    # K=40 the Arrow round-trip of the per-position stream costs more
    # than the K× hashing it saves) and "rolling" (O(n) Karp–Rabin
    # over the concatenated Arrow batch — the regime for LARGE K /
    # long documents, where O(n·K) JVM hashing dominates transfer;
    # within ~20% of the JVM path even here, so the crossover is
    # close).  Everything downstream is identical; phase 2's
    # true-string verify makes the hash family irrelevant to the
    # result (hash identity + result equivalence pinned in
    # tests/test_llmops.py).
    if phase1 == "rolling":
        gh_stream = _rolling_hash_stream(d, k)
    else:
        positions = F.sequence(F.lit(1), n_chars - k + 1)
        gh_stream = (
            d.filter(n_chars >= k)
            .select(
                "doc_id",
                F.posexplode(
                    F.transform(
                        positions,
                        lambda i: F.xxhash64(
                            F.substring("text", i, F.lit(k))
                        ),
                    )
                ).alias("i0", "gh"),
            )
            .select("doc_id", (F.col("i0") + 1).alias("i"), "gh")
        )
    # >= 2 occurrences at distinct positions — count(*), NOT distinct
    # docs: same-document and overlapping repeats are duplicates here.
    # The test runs as count-over-window BY gh, not groupBy + join
    # back: a groupBy produces only the duplicated KEYS, and rejoining
    # them to recover positions shuffles the full stream a SECOND time
    # and recomputes the hash stage under the probe (measured 3x
    # slower at the 16x sweep once the candidate set outgrows the
    # broadcast threshold).  The window shuffles
    # the stream exactly once, keyed by gh; collisions only ADD
    # phase-2 verification work, never a wrong result.  Skew note: a
    # pathologically frequent gram makes one hot gh partition — the
    # identical hot key would sit on one reducer under the groupBy
    # formulation too; the escape at 100 TB is a two-level salted
    # count (per-(gh, salt) partials, summed by a bounded second
    # pass), the b73 pattern.
    w_gh = Window.partitionBy("gh")
    surv = (
        gh_stream.withColumn("n", F.count(F.lit(1)).over(w_gh))
        .filter(F.col("n") >= 2)
        .select("doc_id", "i")
    )

    # phase 2: true strings for surviving positions only (zipfian-head
    # sized), re-test >= 2 occurrences on the real substring — same
    # one-shuffle window, keyed by the gram text.  The join back to d
    # re-reads only texts of documents holding a surviving position;
    # its shuffle is survivor-volume + one pass of the doc table,
    # co-partitioned on doc_id with the rewrite stages below.
    grams = surv.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "i",
        F.substring("text", F.col("i"), F.lit(k)).alias("gram"),
    )
    covered = (
        grams.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("gram")))
        .filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + k - 1)).alias(
                "pos"
            ),
        )
        .distinct()
        # three consumers below and a corpus-wide shuffle in its
        # lineage — materialize once (b139's localCheckpoint pattern;
        # eager, context-cleaner-owned, no cacheManager entry)
        .localCheckpoint(eager=True)
    )

    # touched-only rewrite: clean documents pass through as a narrow
    # projection; only documents with a covered position are exploded
    # to characters and reassembled.
    touched = covered.select("doc_id").distinct()
    untouched_out = d.join(touched, "doc_id", "left_anti").select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        F.lit(0).cast("bigint").alias("n_removed"),
        F.col("text").alias("clean_text"),
    )
    chars_t = (
        d.join(touched, "doc_id")
        .select("doc_id", F.posexplode(F.split("text", "")).alias("pos0", "ch"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "ch")
    )
    kept = chars_t.join(covered, ["doc_id", "pos"], "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ch"))),
                lambda s: s.ch,
            ),
            "",
        ).alias("clean_text"),
    )
    touched_out = (
        d.join(touched, "doc_id")
        .select("doc_id", n_chars.cast("bigint").alias("n_chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            (F.col("n_chars") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
    return untouched_out.unionByName(touched_out)


@query(
    "b181_exact_substring",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, COALESCE(text, '') AS text FROM documents),
    grams AS (
      SELECT doc_id, CAST(u.i AS INTEGER) AS i,
             substring(text, CAST(u.i AS INTEGER), {EXSUB_K}) AS gram
      FROM docs,
           LATERAL (SELECT unnest(range(1, len(text) - {EXSUB_K} + 2)) AS i) u
      WHERE len(text) >= {EXSUB_K}),
    dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(u.pos AS INTEGER) AS pos
      FROM grams g JOIN dup USING (gram),
           LATERAL (SELECT unnest(range(g.i, g.i + {EXSUB_K})) AS pos) u),
    chars AS (
      SELECT doc_id, CAST(u.pos AS INTEGER) AS pos,
             substring(text, CAST(u.pos AS INTEGER), 1) AS ch
      FROM docs,
           LATERAL (SELECT unnest(range(1, len(text) + 1)) AS pos) u),
    kept AS (
      SELECT c.doc_id, c.pos, c.ch FROM chars c
      WHERE NOT EXISTS (SELECT 1 FROM covered v
                        WHERE v.doc_id = c.doc_id AND v.pos = c.pos))
    SELECT d.doc_id,
           CAST(len(d.text) AS BIGINT) AS n_chars,
           CAST(len(d.text)
                - COALESCE((SELECT count(*) FROM kept k
                            WHERE k.doc_id = d.doc_id), 0) AS BIGINT)
             AS n_removed,
           COALESCE((SELECT string_agg(k.ch, '' ORDER BY k.pos)
                     FROM kept k WHERE k.doc_id = d.doc_id), '')
             AS clean_text
    FROM docs d
    """,
)
def b181_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-quality exact-substring dedup over the documents
    table — see the module docstring for the semantics and the
    equivalence argument, and ``exact_substring_dedup`` for the
    dataflow.  The DuckDB oracle is the brute-force window formulation
    (every K-char window, HAVING count(*) >= 2 — occurrences, not
    distinct docs); the planted-span fixture in tests/test_llmops.py
    pins the boundaries the corpus can't exercise (same-document
    repeat, overlapping self-repeat, the K-1 near-miss)."""
    return exact_substring_dedup(table(spark, sf_dir, "documents"))
