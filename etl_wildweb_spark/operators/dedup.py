"""Deduplication operators (SURVEY.md §2 B28-B29; BASELINE north star).

Exact dedup is a hash groupBy.  Near-dup is MinHash+LSH banding
(shingle → 128 minhashes → 32 band keys → bucket self-join →
exact-Jaccard verify).  Shingling and string hashing stay JVM-side
(NGram transformer + one codegen'd xxhash64 pass); the 128-permutation
min sweep is ONE Arrow-batched numpy pass (see minhash_signatures —
the interpreted-HOF form it replaced re-walked every hash array 128
times); everything downstream is DataFrame joins/aggregates.

Every shingle-set engine — MinHash banding, its incremental probe,
the exact prefix-filter join and the containment join — reads one
checkpointed shingle stage (_shingle_stage), and the three Jaccard
engines share one exact verify (_jaccard_verify); they differ only in
how they generate candidate pairs.  No builder registers a session
cache: stages read more than once are eager local checkpoints.

100 TB design: signatures are a narrow map over the shingle stage, so
the banding pipeline's only corpus-scale shuffle is the band-bucket
exchange, whose fan-in is bounded because bucket sizes are small for well-chosen r (docs only collide when genuinely
similar).  The exact-verify join touches candidate pairs only — the
whole point of LSH — so the quadratic brute-force never materializes.
The verify stage re-joins shingle sets by doc_id (co-partitioned hash
join on the doc key, broadcast-able if candidates are rare).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import lift_parallelism, local_frame, table
from ..registry import query

# MinHash-LSH parameters: 128 permutations as 32 bands × 4 rows.
# P(candidate | j) = 1-(1-j^4)^32 → at the 0.8 threshold the miss
# probability is (1-0.8^4)^32 ≈ 5e-8; at j=0.9 it is ~1e-15.  The
# exact-Jaccard verify stage then removes false positives, so the
# pipeline's output equals the brute-force oracle with probability
# ~1 - 1e-7 per true pair.
N_PERM = 128
N_BANDS = 32
ROWS_PER_BAND = N_PERM // N_BANDS
JACCARD_THRESHOLD = 0.8


@query(
    "b28_exact_dedup",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies,
           CAST(min(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY text
    """,
)
def b28_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28: exact dedup — one representative (min doc_id) per distinct
    text.  Deterministic representative choice (min), unlike
    dropDuplicates' arbitrary row pick.  Scale: single hash shuffle on
    text (or on a 128-bit digest of it to shrink shuffle payload)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


@query(
    "b28_hash_dedup",
    oracle="""
    SELECT md5(lower(text)) AS text_hash, min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(text))
    """,
)
def b28_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28 variant: dedup on a normalized digest — the shuffle carries a
    16-byte key instead of the document body (the 100 TB-friendly form)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.lower("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def shingles(text_col) -> F.Column:
    """Word 3-gram shingle set of a text column (distinct).  Documents
    shorter than 3 tokens collapse to a single whole-text shingle.

    Column-expression form — fine for fixtures/tests; hot paths use
    :func:`with_shingles` (the ML NGram transformer is JVM-native and
    measured 5× faster than this interpreted higher-order transform)."""
    toks = F.split(text_col, " ")
    tri = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) < 3, F.array(F.array_join(toks, " "))).otherwise(tri)
    )


def with_shingles(
    docs: DataFrame, text_col: str = "text", out: str = "s"
) -> DataFrame:
    """Append a word-3-gram shingle-set column — semantically identical
    to :func:`shingles` (asserted in tests/test_llmops.py) but built on
    pyspark.ml.feature.NGram, whose JVM map avoids per-element
    interpreted lambda evaluation (measured: 0.9 s vs 5.1 s for the
    shingle→explode→groupBy pipeline at sf0.1)."""
    from pyspark.ml.feature import NGram

    tok, grams = f"__{out}_toks", f"__{out}_grams"
    with_toks = docs.withColumn(tok, F.split(F.col(text_col), " "))
    ng = NGram(n=3, inputCol=tok, outputCol=grams)
    return (
        ng.transform(with_toks)
        .withColumn(
            out,
            F.array_distinct(
                F.when(
                    F.size(F.col(tok)) < 3,
                    F.array(F.array_join(F.col(tok), " ")),
                ).otherwise(F.col(grams))
            ),
        )
        .drop(tok, grams)
    )


#: DuckDB twin of :func:`shingles` — MUST stay semantically identical.
SQL_SHINGLES = """
    list_distinct(CASE WHEN len(string_split(text, ' ')) < 3
        THEN [array_to_string(string_split(text, ' '), ' ')]
        ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2]) END)
"""


#: The 128 permutations as a multiply-add family over the 64-bit
#: shingle hash: p_i(h) = (h·A[i] + B[i]) mod 2⁶⁴ with A[i] odd (a
#: bijection on Z_2⁶⁴).  Over xxhash64-uniform inputs this family's
#: min-order statistics are the standard practical stand-in for
#: min-wise independence (the classic a·x+b minhash); the constants
#: are fixed-seed so signatures are deterministic across runs,
#: workers, and engines.  Chosen over xxhash64(i, h) because the
#: whole 128-permutation sweep then vectorizes to two numpy ops per
#: permutation — wraparound uint64 multiply is native there, while
#: ANSI-mode Catalyst has no wrapping arithmetic at all.
def _minhash_constants():
    import random

    import numpy as np

    rng = random.Random(0x5EED_A11)  # fixed seed — determinism contract
    a = np.array(
        [rng.getrandbits(64) | 1 for _ in range(N_PERM)], dtype=np.uint64
    )
    b = np.array(
        [rng.getrandbits(64) for _ in range(N_PERM)], dtype=np.uint64
    )
    return a, b


#: Band-key combiner constant (odd ⇒ multiply is a bijection mod 2⁶⁴).
_BAND_MIX = 0x9E3779B97F4A7C15


def _sig_batches(batches):
    """mapInPandas generator: (doc_id, hv array<long>) batches →
    (doc_id, sig array<long>[N_PERM], bands array<long>[N_BANDS]).  Band
    key b = the 4 band minima folded with wraparound multiply-add —
    used only for equality bucketing, and a 2⁻⁶⁴ accidental collision
    merely adds a candidate the exact-Jaccard verify removes."""
    import numpy as np

    A, B = _minhash_constants()
    mix = np.uint64(_BAND_MIX)
    for pdf in batches:
        if len(pdf) == 0:
            yield pd.DataFrame({"doc_id": [], "sig": [], "bands": []})
            continue
        arrs = [np.asarray(v, dtype=np.int64) for v in pdf["hv"]]
        lens = np.array([len(a) for a in arrs])
        # with_shingles guarantees ≥1 shingle (short docs collapse
        # to the whole-text shingle); guard anyway so an empty
        # array yields the identity (all-max) signature
        flat = (
            np.concatenate(arrs).view(np.uint64)
            if lens.sum()
            else np.empty(0, np.uint64)
        )
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        sig = np.full((len(arrs), N_PERM), np.uint64(2**64 - 1))
        nonempty = lens > 0
        ne_starts = starts[nonempty]
        for i in range(N_PERM):
            v = flat * A[i] + B[i]  # uint64 wraparound — the perm
            if len(ne_starts):
                sig[nonempty, i] = np.minimum.reduceat(v, ne_starts)
        # fold each band's ROWS_PER_BAND minima into one 64-bit key
        s3 = sig.reshape(len(arrs), N_BANDS, ROWS_PER_BAND)
        bands = s3[:, :, 0]
        for r in range(1, ROWS_PER_BAND):
            bands = bands * mix + s3[:, :, r]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "sig": list(sig.view(np.int64)),
                "bands": list(np.ascontiguousarray(bands).view(np.int64)),
            }
        )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, s) shingle sets → (doc_id, sig array<long>[128],
    bands array<long>[32]): per permutation i, the unsigned min over
    (xxhash64(shingle)·A[i] + B[i]) mod 2⁶⁴; band keys are the folded
    4-row minima, ready for the LSH bucket join.

    Two-stage split chosen by measurement (the simhash/repetition
    lesson applied to minhash):

      * shingle→long hashing stays JVM-side — ONE
        ``transform(s, xxhash64)`` pass over the scan, codegen'd,
        each shingle string hashed exactly once;
      * the 128-permutation × |shingles| min sweep moves to ONE
        Arrow-batched mapInPandas pass — numpy computes each
        permutation as a single wraparound multiply-add over the
        concatenated hash array and takes per-doc minima with
        ``minimum.reduceat``, then folds band keys in the same pass.
        Measured at sf0.01: the previous 128
        ``array_min(transform(...xxhash64(i,h)))`` columns cost
        ~1.9 s; this pass ~0.5 s end-to-end — the interpreted-HOF
        tax again (each of the 128 lambdas re-walked every array in
        interpreted eval), plus the 128-wide column expansion that
        banding immediately re-packed is gone entirely.

    Still ZERO shuffle — a narrow map over the shingle stage
    (:func:`_shingle_stage`), embarrassingly parallel at 100 TB; Arrow
    moves ~(|shingles|+160) longs per doc.  The frame is lazy; each
    engine checkpoints it once, because the band join reads it on both
    sides and a lazy one runs the Python pass for each."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    base = sh.select(
        "doc_id", F.transform("s", lambda g: F.xxhash64(g)).alias("hv")
    )
    sig_schema = StructType(
        [
            base.schema["doc_id"],
            StructField("sig", ArrayType(LongType()), False),
            StructField("bands", ArrayType(LongType()), False),
        ]
    )
    return base.mapInPandas(_sig_batches, schema=sig_schema)


def banded_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, …, bands) → (doc_id, band, sig): one row per band bucket
    key, the LSH index shape both the self-join and the incremental
    probe consume."""
    return sigs.select("doc_id", F.posexplode("bands").alias("band", "sig"))


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Explode the precomputed band keys and self-join band buckets →
    candidate pairs (id_a < id_b, distinct)."""
    banded = banded_keys(sigs)
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


NGRAM_THRESHOLD = 0.8
#: NGRAM_THRESHOLD as an exact rational — prefix lengths must be
#: computed in integer arithmetic (see the in-query comment; 0.8 and
#: 0.2 are not binary-representable and the float form drops boundary
#: pairs).  floor((4s+4)/5) = ⌈4s/5⌉ is exact: the numerator stays
#: far below 2⁵², where double division is lossless.
_T_NUM, _T_DEN = 4, 5
if _T_NUM / _T_DEN != NGRAM_THRESHOLD:  # survives python -O, unlike assert
    raise ValueError(
        f"NGRAM_THRESHOLD {NGRAM_THRESHOLD} != {_T_NUM}/{_T_DEN}: the exact-"
        "rational prefix math would silently diverge from the float threshold"
    )


def _shingle_stage(docs: DataFrame) -> DataFrame:
    """The (doc_id, s) shingle sets of ``docs``, built ONCE per call.

    The NGram pass is the expensive stage of every shingle-set engine:
    the prefix-filter joins (:func:`ngram_jaccard_edges`, b159), the
    MinHash banding self-join (:func:`minhash_pairs`) and the
    incremental probe (b82).  Each reads it several times: its index
    (gram postings or signatures) and both sides of the exact verify.
    The calling builder owns the result, materialized here as an EAGER
    local checkpoint:

    * not ``.cache()``: a builder returns a lazy frame, so there is no
      point after the action to unpersist at, and every call would
      leave one more entry in the session's CacheManager.  A local
      checkpoint registers nothing there; its blocks are freed with
      the frame, like the CC edge checkpoints.
    * eager: the stage is complete when the builder returns.  A lazy
      one is materialized by whichever action the caller runs first;
      after a short-circuiting one (``limit``, ``show``) only part of
      it is built, and Spark runs an extra job for the partitions it
      skipped (see the loop note in :func:`connected_components`).

    A local checkpoint is not fault-tolerant: a lost executor takes its
    blocks with it and the query fails instead of recomputing them.
    That is the same trade the CC edge checkpoints make (and the
    MinHash signature checkpoints); at cluster scale this stage is a
    reliable checkpoint or a written table."""
    return (
        with_shingles(lift_parallelism(docs, "doc_id"))
        .select("doc_id", "s")
        .localCheckpoint(eager=True)
    )


def _gram_hashes(sh: DataFrame) -> DataFrame:
    """(doc_id, set_size, gh): one posting per distinct gram of the
    shingle stage ``sh``, keyed by xxhash64(gram).  All index stages run
    on these longs, never gram strings: fixed-width shuffle keys and
    cheap equality.  A 64-bit collision can only ADD a candidate pair,
    and the exact string-set verify filters it, so the hash never
    threatens exactness (the same superset-then-verify argument as the
    prefix filter itself).

    Derived lazily from the checkpoint: an explode plus xxhash64 costs
    less to recompute than to materialize (a second checkpoint here
    measured slower per corpus_dedup pass)."""
    # set_size = size(s): `s` is already array_distinct, so a
    # groupBy(doc_id).count() over the exploded grams would recompute a
    # value the array carries for free.  Riding it through the explode
    # saves one corpus-scale shuffle AND the doc_id join that would
    # re-attach it (8 bytes/row through the gh exchange instead).
    return sh.select(
        "doc_id", F.size("s").alias("set_size"), F.explode("s").alias("gram")
    ).select("doc_id", "set_size", F.xxhash64("gram").alias("gh"))


def _prefix_index(g: DataFrame, num: int, den: int) -> DataFrame:
    """(doc_id, gh) for each doc's prefix in the postings ``g``: its
    |x| − ⌈t·|x|⌉ + 1 rarest grams at threshold t = num/den, frequency
    ties broken by gram hash so the prefix is deterministic."""
    from pyspark.sql import Window as W

    freq = g.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    rk = F.row_number().over(W.partitionBy("doc_id").orderBy("df", "gh"))
    return (
        g.join(freq, "gh")
        .withColumn("rk", rk)
        # prefix length |x| − ⌈t·|x|⌉ + 1 in EXACT integer arithmetic.
        # The float form floor((1−t)·|x|)+1 under-counts by one whenever
        # t·|x| is integral, because 1−0.8 is 0.19999…96 in binary: at
        # |x|=10 it yielded prefix 2 instead of 3 and silently dropped a
        # Jaccard-exactly-0.8 pair at sf0.1 (caught by the minhash↔exact
        # cross-check; sf0.01 has no boundary-Jaccard pair, so the
        # oracle differential alone never saw it).
        .filter(
            F.col("rk")
            <= F.col("set_size")
            # ⌈t·|x|⌉ = (NUM·|x| + DEN−1) div DEN — integer `div`, not
            # float `/`+floor: int/int in Spark is double division, so
            # exactness would silently hinge on the numerator staying
            # below 2^52; `div` matches the Python integer formula the
            # unit test pins bit-for-bit.
            - F.expr(f"cast(({num} * set_size + {den - 1}) div {den} as int)")
            + 1
        )
        .select("doc_id", "gh")
    )


def _with_sets(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Attach both sides' shingle sets (sa, sb) to (id_a, id_b) pairs
    for the exact verify — both joins read the one shingle stage."""
    return pairs.join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa")), "id_a"
    ).join(sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb")), "id_b")


def _jaccard_verify(pairs: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidate ``pairs`` whose exact
    shingle-set Jaccard reaches ``threshold`` — the one verify of the
    Jaccard engines (prefix filter, MinHash banding, incremental
    probe), so their candidate filters are the only thing that differs."""
    jaccard = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_union("sa", "sb")
    )
    return (
        _with_sets(pairs, sh)
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_edges(docs: DataFrame) -> DataFrame:
    """EXACT token-3-gram Jaccard join of ``docs`` via prefix filtering
    (AllPairs/PPJoin family) — the exact twin of b29_minhash_near_dedup
    over the identical shingle space, with no false-negative
    probability and still never building the n² pair space.

    Prefix principle: order every doc's gram set by ascending global
    document frequency (rarest first); if J(A,B) ≥ t then A and B must
    share a gram within each other's first ⌊(1-t)·|set|⌋+1 grams, so an
    inverted index over *prefixes only* generates a candidate superset.
    The exact-Jaccard verify then equals brute force — hash-checked
    against the O(n²) DuckDB oracle.

    Gram-space choice matters: prefix filtering prunes only if the
    rarest grams are actually rare.  Character 5-grams on this corpus
    collapse to a ~2k vocabulary (avg df ≈ 500) and candidates
    degenerate to ~full n² (measured 180 s at sf0.1); token 3-grams
    give a high-entropy vocabulary and the same query runs in seconds.
    On a low-entropy corpus, raise n — the operator is parametric in
    the gram expression.

    100 TB: the index shuffle carries ~(1-t) of the gram volume (20%
    here); candidate fan-out per gram is bounded because prefix grams
    are by construction the rarest."""
    sh = _shingle_stage(docs)
    prefix = _prefix_index(_gram_hashes(sh), _T_NUM, _T_DEN)
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "gh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    return _jaccard_verify(cands, sh, NGRAM_THRESHOLD)


@query(
    "b29_ngram_jaccard",
    oracle=f"""
    WITH g AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= {NGRAM_THRESHOLD}
    """,
)
def b29_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 variant: exact n-gram Jaccard ≥ 0.8 pairs over the corpus
    documents (see :func:`ngram_jaccard_edges`)."""
    return ngram_jaccard_edges(table(spark, sf_dir, "documents"))


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard) MinHash+LSH near-duplicate pairs of
    ``docs`` at Jaccard ≥ 0.8, exact-verified: shingle stage →
    signatures (checkpointed: both sides of the band self-join read
    them) → band-bucket candidates → the shared exact verify."""
    sh = _shingle_stage(docs)
    sigs = minhash_signatures(sh).localCheckpoint(eager=True)
    return _jaccard_verify(lsh_candidate_pairs(sigs), sh, JACCARD_THRESHOLD)


@query(
    "b29_minhash_near_dedup",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= {JACCARD_THRESHOLD}
    """,
)
def b29_minhash_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29: MinHash+LSH near-duplicate pairs at Jaccard ≥ 0.8 (see
    :func:`minhash_pairs`).  The oracle is the O(n²) brute force — the
    outputs agree because banding recall at the threshold is 1-5e-8
    (see N_PERM note).  The Spark side never materializes the quadratic
    pair space."""
    return minhash_pairs(table(spark, sf_dir, "documents"))


#: The all-Catalyst SimHash twin: per-bit majority vote as nested HOF
#: folds.  KEPT for the equivalence test only — it re-splits and
#: re-hashes every token 64 times inside interpreted lambdas (measured
#: 21 s at sf0.1 vs 0.34 s for the hash-once + numpy path below).
#: The Python shiftleft/shiftright wrappers only take literal shift
#: amounts; the SQL forms accept expressions, hence expr().
SIMHASH_EXPR_TWIN = """
    aggregate(
      zip_with(
        transform(sequence(0, 63), i ->
          CASE WHEN aggregate(transform(split(text, ' '), t -> xxhash64(t)),
                              0L, (acc, h) -> acc + (shiftright(h, i) & 1L)) * 2
                    >= size(split(text, ' '))
               THEN 1L ELSE 0L END),
        sequence(0, 63),
        (b, i) -> shiftleft(b, i)),
      0L, (acc, x) -> acc | x)
    """


def simhash_batches(batches):
    """Arrow-batched per-bit majority vote over PRE-COMPUTED token
    hashes: unpack each xxhash64 into a 64-column bit matrix, column-sum,
    majority → bit — bit-identical to SIMHASH_EXPR_TWIN (pinned in
    tests) because the inputs are the same JVM xxhash64 values."""
    import numpy as np

    for pdf in batches:
        out_id, out_sh = [], []
        for doc_id, hs in zip(pdf["doc_id"], pdf["hv"]):
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            n = len(h)
            bits = (
                (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            ).sum(axis=0)
            maj = bits * 2 >= n
            sh = int(np.packbits(maj[::-1]).view(">u8")[0])
            if sh >= 2**63:
                sh -= 2**64  # two's-complement into Spark's signed long
            out_id.append(doc_id)
            out_sh.append(sh)
        yield pd.DataFrame(
            {"doc_id": out_id, "simhash": pd.array(out_sh, dtype="int64")}
        )


@query("b29_simhash")  # rows-only: bit-level fingerprint, not SQL-expressible
def b29_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 variant: 64-bit SimHash per document — token hashes computed
    ONCE JVM-side (one transform/xxhash64 pass), then the per-bit
    majority vote vectorized in numpy over Arrow batches.  This
    replaced an all-Catalyst nested-HOF fold that re-hashed every token
    64 times interpreted (21 s → 0.34 s at sf0.1, bit-identical —
    equivalence pinned in tests).  Near-dups have small Hamming
    distance (asserted on planted pairs); at scale candidates come from
    grouping on bit-prefix blocks (here: the top-16-bit block id is
    emitted alongside)."""
    d = table(spark, sf_dir, "documents")
    hv = F.transform(F.split("text", " "), lambda t: F.xxhash64(t))
    hashed = d.select("doc_id", hv.alias("hv"))
    res = hashed.mapInPandas(
        simhash_batches, schema="doc_id bigint, simhash bigint"
    )
    return res.select(
        "doc_id",
        "simhash",
        F.shiftrightunsigned("simhash", 48).alias("block16"),
    )


@query(
    "b29_embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95
    """,
)
def b29_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 variant: embedding-cosine near-dup with label blocking (the
    blocked join is the scale pattern — candidates only within a block,
    never the full cross product).

    Blocking-key contract (measured with a 16x-corpus probe): the
    within-block self-join is quadratic IN BLOCK SIZE, so the key's
    cardinality must grow with the corpus — exactly as LSH bucket
    counts and IVF cell counts do.  A fixed key (like this demo's
    label) saturates: 16x corpus with fixed labels → 256x pairs.  At
    real scale block on b30's hyperplane-LSH bucket id or IVF cell, or
    route near-dup through b29_minhash/b30_ann_*; label stays here
    because the DuckDB oracle pins exactness within it."""
    from ..functions.vector import clamp_cos, dot, norm

    e = table(spark, sf_dir, "embeddings")
    # b149's two-part pair-stage treatment: norms once per VECTOR
    # (cosine() re-aggregates both per pair — 3x the flops on the
    # quadratic path; clamped dot/(na·nb) builds the exact same
    # doubles, so the emitted cos_sim is bit-identical), a derived-key
    # pinned-width exchange on the probe side (AQE sizes the stage by
    # its tiny input and serializes the pair explosion on one core),
    # and a broadcast build side (a shuffle join on 10 label keys caps
    # parallelism at 10 tasks).  862 s → 23 s at the 16x probe.
    base = e.select("vec_id", "label", "embedding", norm("embedding").alias("nrm"))
    a = base.repartition(
        e.sparkSession.sparkContext.defaultParallelism,
        F.pmod(F.xxhash64("vec_id"), F.lit(1024)),
    ).select(
        F.col("vec_id").alias("id_a"),
        F.col("label"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("label"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(F.broadcast(b), ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.when(
                F.col("na") * F.col("nb") != F.lit(0.0),
                clamp_cos(dot("ea", "eb") / (F.col("na") * F.col("nb"))),
            ),
        )
        .filter(F.col("cos_sim") >= 0.95)
        .select("id_a", "id_b", "cos_sim")
    )


# ------------------------------------------------- duplicate clusters

#: ``pairs`` is MATERIALIZED so DuckDB evaluates the brute-force pair join
#: once instead of inlining it into every step of the recursive ``reach``
#: (same rows, about 3x less oracle time at sf0.01).
_CC_ORACLE_PREFIX = f"""
WITH RECURSIVE g AS (SELECT doc_id, {{shingles}} AS s FROM documents),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE
            / len(list_distinct(list_concat(a.s, b.s))) >= {{thr}}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node)
"""


#: Edge-count threshold at or below which connected components resolve as
#: ONE driver-side union-find over the collected edge list instead of the
#: iterative distributed loop: every loop round on a sub-million-edge graph
#: is pure per-round scheduler fixed cost (measured ~0.8-1.2 s/round on
#: width-1 graphs at sf0.1), while 10⁶ (u, v) long pairs are ~30 MB
#: collected and union-find resolves them in well under a second on the
#: driver.  Mirrors the BPE driver/distributed twin (corpus.py): the
#: distributed loop stays load-bearing above the threshold, and driver ≡
#: distributed equivalence is pinned on every adversarial graph shape in
#: tests/test_components.py.
DRIVER_CC_MAX_EDGES = 1_000_000


def _driver_cc(spark: SparkSession, edge_rows, id_type) -> DataFrame:
    """Union-find over a collected edge list — the sub-threshold twin of
    the distributed :func:`connected_components` loop, honoring the same
    contract: one row per node that appears in any edge (self-loops
    carry membership), with cluster_id = the component's minimum node
    id.  Endpoints must be non-null.

    Union by MIN root makes the invariant structural: whenever two trees
    merge, the smaller root wins, and the component's true minimum is a
    root from the moment it appears — so at the end every root IS its
    component min and no relabel pass is needed.  Iterative path-halving
    find keeps the forest flat (no recursion limit at 10⁶ edges).

    The cluster table goes back to Spark as a JVM-local relation
    (io.local_frame), so the joins that consume it can broadcast it and
    never start a Python worker to read it."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("node", id_type, True),
            StructField("cluster_id", id_type, True),
        ]
    )
    return local_frame(spark, [(n, find(n)) for n in parent], schema)


def _driver_cc_or_none(edges_uv: DataFrame) -> DataFrame | None:
    """Path decision of :func:`connected_components`: resolve the
    (already checkpointed) edge list on the driver when it fits, else
    return None for the distributed loop.

    Two jobs at most: one count over the checkpointed rows, then — only
    when the count is within DRIVER_CC_MAX_EDGES — one plain collect, so
    a graph above the threshold pays a count, not a discarded transfer.
    The count runs on the physical RDD: a DataFrame count under AQE is
    two jobs (partial-aggregate stage, then the final one).

    The driver path takes integral and binary-collated string ids only,
    whose Python order is Spark's order (UTF-8 byte order is code point
    order; a double NaN would never find its union-find root), and
    edges with no null endpoint: Python cannot order None, and the
    distributed loop gives null nodes their own semantics."""
    from pyspark.sql.types import IntegralType, StringType

    ut = edges_uv.schema["u"].dataType
    if ut != edges_uv.schema["v"].dataType or not (
        isinstance(ut, IntegralType) or ut == StringType()
    ):
        return None
    if edges_uv._jdf.queryExecution().toRdd().count() > DRIVER_CC_MAX_EDGES:
        return None
    rows = edges_uv.collect()
    if any(u is None or v is None for u, v in rows):
        return None
    return _driver_cc(edges_uv.sparkSession, rows, ut)


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 30
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14).  Returns (node, cluster_id) where cluster_id =
    the component's minimum node id; self-loops carry membership.

    Each round is two groupBy(min) + equi-join passes over the edge
    list; the graph contracts toward a star per component in O(log n)
    rounds REGARDLESS of diameter, so long chains cost no more rounds
    than near-clique dup blobs.  No collect_set: the per-node minimum
    is a partial-aggregating min(), so high-degree hub nodes never
    materialize a neighbor list (the skew trap of naive CC).

      large-star: every node links its LARGER neighbors to its local
                  min m = min(Γ(u) ∪ {u})     — emit (v, m) for v > u
      small-star: on the now-downward edge list, every node re-links
                  itself and its smaller neighbors to its min
                  — emit (u, m) ∪ {(v, m) : v ∈ Γ(u), v ≠ m}

    Fixpoint when the edge multiset stops changing (checked by count +
    key checksums — one tiny aggregate per round, no exceptAll
    shuffle).  At fixpoint the edge list IS the component star:
    (node → component-min).  No fixpoint within ``max_iter`` rounds
    raises RuntimeError rather than returning a partial labelling.

    Graphs of at most DRIVER_CC_MAX_EDGES edges skip the loop and
    resolve as one driver-side union-find (:func:`_driver_cc`)."""
    # Materialize the incoming edge list ONCE — the driver path, `e` and
    # `nodes` all derive from it, and the upstream lineage (e.g. the
    # PPJoin candidate generation of ngram_jaccard_edges) is the
    # expensive part; without this checkpoint it would execute twice.
    raw = edges.selectExpr(f"{src} AS u", f"{dst} AS v").localCheckpoint(
        eager=True
    )
    done = _driver_cc_or_none(raw)
    if done is not None:
        return done
    # Self-loops carry membership (the node exists) but no connectivity:
    # keep their nodes, drop the edges before iterating.
    e = (
        raw.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)
    )
    spark = e.sparkSession

    def _sig(df: DataFrame) -> tuple:
        # Order-insensitive edge-multiset signature: count + XOR of row
        # hashes (bit_xor never overflows, unlike a sum under ANSI).
        row = df.agg(
            F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
        ).collect()[0]
        return tuple(row)

    # The initial signature's count() IS the edge count — one
    # aggregate job supplies both the convergence baseline and the
    # loop width.  The dup graph is orders of magnitude smaller than the
    # corpus that produced it, so a corpus-sized partition count is pure
    # scheduling overhead (measured 28 s → 3 s at sf0.01 under a
    # 200-partition session).  Every checkpointed frame is explicitly
    # hash-repartitioned to this width, since a checkpoint freezes its
    # RDD partitioning for the whole loop; no session conf is touched.
    sig = _sig(e)
    n_edges = sig[0]
    default_width = spark.sparkContext.defaultParallelism
    width = max(1, min(default_width, n_edges // 100_000 + 1))
    # nodes is consumed exactly ONCE, by the final left join — a lazy
    # frame over the checkpointed `raw`, so it rides the final job
    # instead of paying its own eager-checkpoint job up front (the
    # eager rule is for frames REUSED across loop rounds; this one
    # isn't).
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .repartition(width, "node")
    )
    for _ in range(max_iter):
        bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # m(u) = min over neighbors and self — a partial-agg min, never
        # a neighbor-list materialization.
        mins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        large = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # large-star output is strictly downward (v = some min < u), so
        # small-star operates on it directly.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
        )
        # LAZY checkpoint + full aggregate = ONE job per round (an eager
        # checkpoint plus a separate signature job is two): the signature
        # aggregate reads every partition, so the checkpoint is fully
        # materialized before lineage is dropped — never pair a lazy
        # localCheckpoint with a short-circuiting action such as
        # limit(1).count(), which builds only the partitions it reads.
        # distinct AFTER the width repartition: hash-partitioning by u
        # already clusters every (u, v) duplicate into one partition,
        # so the dedup aggregate reuses that exchange instead of adding
        # its own (u, v)-keyed shuffle — one less Exchange per round,
        # same rows, and the checkpoint still freezes hash(u)-by-width
        # partitioning.
        e = small.repartition(width, "u").distinct().localCheckpoint(eager=False)
        nsig = _sig(e)
        if nsig == sig:
            break
        sig = nsig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            f"on {n_edges} edges"
        )
    roots = e.groupBy("u").agg(F.min("v").alias("root"))
    return nodes.join(
        roots, nodes.node == roots.u, "left"
    ).select("node", F.coalesce("root", "node").alias("cluster_id"))


@query(
    "b29_cc_bigstar",
    oracle=_CC_ORACLE_PREFIX.format(shingles=SQL_SHINGLES, thr=NGRAM_THRESHOLD)
    + """
    SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    """,
)
def b29_cc_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 end-game: resolve near-dup PAIRS into duplicate CLUSTERS
    (connected components), because pairwise output alone can't answer
    "which docs do I drop" — transitivity matters (A~B, B~C ⇒ one
    cluster even if A!~C).  Edges are the exact n-gram Jaccard pairs
    (deterministic, so the output is hash-checkable); the oracle walks
    the same edge set with a recursive CTE to the same min-label
    fixpoint."""
    return dup_clusters(table(spark, sf_dir, "documents"))


def dup_clusters(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every document of ``docs`` in some
    near-dup pair: connected components over its exact n-gram Jaccard
    edges, labelled by the component's min doc_id."""
    edges = ngram_jaccard_edges(docs).select("id_a", "id_b")
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@query(
    "b29_dedup_canonical",
    oracle=_CC_ORACLE_PREFIX.format(shingles=SQL_SHINGLES, thr=NGRAM_THRESHOLD)
    + """
    , clusters AS (
      SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    """,
)
def b29_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual corpus-dedup output: every document except
    non-canonical near-duplicates (each cluster keeps its min doc_id).
    Composition proof that pairs → clusters → anti-join works
    end-to-end; the dropped set is deterministic because the edge set
    is exact.  At 100 TB the anti join broadcasts: the drop list is
    |dupes|, orders of magnitude smaller than the corpus."""
    d = table(spark, sf_dir, "documents")
    clusters = dup_clusters(d)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return d.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "b29_edit_distance",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substring(a.text, 1, 64), substring(b.text, 1, 64))
             AS edit_dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang
     AND substring(a.text, 1, 16) = substring(b.text, 1, 16)
     AND a.doc_id < b.doc_id
    WHERE abs(a.n_chars - b.n_chars) <= 8
      AND levenshtein(substring(a.text, 1, 64), substring(b.text, 1, 64)) <= 10
    """,
)
def b29_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 variant: edit-distance near-dup with BLOCKED candidate
    generation — Levenshtein is O(len²) per pair, so the self-join is
    keyed on (lang, 16-char prefix) with a length-delta guard, and the
    quadratic function only ever runs on the tiny blocked candidate
    set, on a 64-char prefix.  The blocking keys are equi-join keys →
    plain hash join, no cross product anywhere.  Classic blocking from
    record-linkage (Fellegi-Sunter lineage); Spark and DuckDB implement
    identical classic Levenshtein, so this is exact-oracled."""
    d = table(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang"),
        F.substring("text", 1, 16).alias("blk"),
        F.substring("text", 1, 64).alias("head_a"),
        F.col("n_chars").alias("nc_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang"),
        F.substring("text", 1, 16).alias("blk"),
        F.substring("text", 1, 64).alias("head_b"),
        F.col("n_chars").alias("nc_b"),
    )
    return (
        a.join(b, ["lang", "blk"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 8)
        )
        .withColumn("edit_dist", F.levenshtein("head_a", "head_b"))
        .filter(F.col("edit_dist") <= 10)
        .select("id_a", "id_b", "edit_dist")
    )


@query(
    "b28_incremental_dedup",
    oracle="""
    SELECT n.doc_id, n.source, md5(n.text) AS digest
    FROM documents n
    WHERE n.source = 'src0'
      AND NOT EXISTS (
        SELECT 1 FROM documents c
        WHERE c.source <> 'src0' AND md5(c.text) = md5(n.text))
    """,
)
def b28_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28: incremental cross-batch dedup — admit only the documents of
    a NEW ingest batch (source = 'src0') whose content digest is absent
    from the existing corpus (every other source).  This is the shape a
    continuously-growing training corpus actually runs: the corpus is
    never re-deduplicated wholesale; each arriving batch is anti-joined
    against the digest index of what's already stored.

    Scale: both sides project to (16-byte digest [+ ids]) BEFORE the
    anti-join, so the shuffle carries digests, never document bodies —
    at 100 TB the digest index is ~0.1% of corpus bytes and is exactly
    the thing you'd keep as a bucketed table so successive batches join
    against it with zero corpus-side exchange."""
    d = table(spark, sf_dir, "documents")
    new_batch = d.filter(F.col("source") == "src0").select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    corpus_digests = (
        d.filter(F.col("source") != "src0").select(F.md5("text").alias("digest"))
    )
    return new_batch.join(corpus_digests, "digest", "left_anti").select(
        "doc_id", "source", "digest"
    )


#: b82: every 5th doc plays the "newly arrived batch"; the rest are
#: the already-indexed corpus.
_NEARDUP_BATCH_MOD = 5


@query(
    "b82_incremental_neardup",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM documents),
    corpus AS (SELECT * FROM sh WHERE doc_id % {_NEARDUP_BATCH_MOD} <> 0),
    batch  AS (SELECT * FROM sh WHERE doc_id % {_NEARDUP_BATCH_MOD} = 0)
    SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
           len(list_intersect(b.s, c.s))::DOUBLE
               / len(list_distinct(list_concat(b.s, c.s))) AS jaccard
    FROM batch b JOIN corpus c ON TRUE
    WHERE len(list_intersect(b.s, c.s))::DOUBLE
              / len(list_distinct(list_concat(b.s, c.s)))
          >= {JACCARD_THRESHOLD}
    """,
)
def b82_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup admission: a newly arrived batch (every
    5th doc) is checked for Jaccard ≥ 0.8 neighbors against the
    ALREADY-INDEXED corpus — the b28_incremental_dedup story lifted
    from exact digests to MinHash+LSH.  Only batch×corpus pairs are
    ever considered; corpus×corpus never re-compares, which is the
    whole point of keeping a persistent band index: daily ingest
    costs O(|batch| × collision rate), not O(|corpus|²).

    Shape: the shared shingle stage, signatures computed ONCE for
    both sides and checkpointed (zero shuffle; signing each side
    separately measured slower), the batch's band keys BROADCAST into
    the corpus band index (an equi-join probe — the corpus is never
    exchanged), then the shared exact verify on the candidate pairs
    only.  The
    oracle is the brute-force batch×corpus scan; they agree because
    banding recall at the threshold is 1-5e-8 (N_PERM note above)."""
    sh = _shingle_stage(table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(sh).localCheckpoint(eager=True)
    is_batch = F.col("doc_id") % _NEARDUP_BATCH_MOD == 0

    def banded(side: DataFrame, out: str) -> DataFrame:
        return banded_keys(side).withColumnRenamed("doc_id", out)

    cands = (
        banded(sigs.filter(~is_batch), "id_b")
        .join(F.broadcast(banded(sigs.filter(is_batch), "id_a")), ["band", "sig"])
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_verify(cands, sh, JACCARD_THRESHOLD).select(
        F.col("id_a").alias("batch_id"), F.col("id_b").alias("corpus_id"), "jaccard"
    )


@query(
    "b120_record_linkage",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey + 10000000 AS dirty_id, c_name || 'X' AS dirty_name
      FROM customer WHERE c_custkey % 10 = 0)
    SELECT d.dirty_id, c.c_custkey AS matched_custkey,
           CAST(levenshtein(d.dirty_name, c.c_name) AS INTEGER) AS dist
    FROM dirty d JOIN customer c
      ON substr(d.dirty_name, 1, 16) = substr(c.c_name, 1, 16)
    WHERE levenshtein(d.dirty_name, c.c_name) <= 1
    """,
)
def b120_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source record linkage — the two-TABLE counterpart of the
    in-corpus edit-distance dedup (b29): a "dirty registry" (every 10th
    customer name with a trailing character corrupted in, derived
    deterministically so the oracle can rebuild it) is matched back to
    the clean customer table by BLOCK-then-VERIFY: equi-join on a
    16-char name-prefix block, then exact Levenshtein ≤ 1.  The
    corrupted record sits at distance 1 from its original but ≥ 2 from
    every block sibling, so the match is unique without a ranking pass.

    Scale: blocking converts the O(n·m) all-pairs comparison into
    Σ(per-block products) — an equi-join whose fan-out the block-key
    granularity controls (the recall/cost dial of every linkage
    system); Levenshtein runs only on candidates.  Same
    candidates-then-verify architecture as LSH (b29) and Bloom (b110):
    the approximate structure prunes, an exact predicate decides."""
    c = table(spark, sf_dir, "customer")
    dirty = c.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("dirty_id"),
        F.concat(F.col("c_name"), F.lit("X")).alias("dirty_name"),
    )
    cand = dirty.join(
        c.select("c_custkey", "c_name"),
        F.substring("dirty_name", 1, 16) == F.substring("c_name", 1, 16),
    )
    dist = F.levenshtein("dirty_name", "c_name")
    return cand.filter(dist <= 1).select(
        "dirty_id",
        F.col("c_custkey").alias("matched_custkey"),
        dist.cast("int").alias("dist"),
    )


@query(
    "b128_slice_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT lang, DISTINCT_g AS gh FROM (
        SELECT lang, unnest(list_distinct({SQL_SHINGLES})) AS DISTINCT_g
        FROM documents)
      GROUP BY 1, 2),
    sizes AS (SELECT lang, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.gh = b.gh AND a.lang < b.lang
      GROUP BY 1, 2)
    SELECT lang_a, lang_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union,
           CAST((1000000 * n_inter) // (sa.n + sb.n - n_inter)
                AS BIGINT) AS jaccard_ppm
    FROM inter
    JOIN sizes sa ON sa.lang = lang_a
    JOIN sizes sb ON sb.lang = lang_b
    """,
)
def b128_slice_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice overlap matrix: pairwise shingle-set Jaccard between
    language slices — the drift/contamination dashboard number for
    "how much do these two data sources share?", computed at the SLICE
    level where b29 works at the document level.  Outputs exact
    integer intersection/union counts plus a floor-division ppm ratio.

    Scale: the (slice, shingle) distinct is the corpus-sized stage
    (hash agg, map-side combined); the intersection self-join keys on
    the shingle hash, so fan-out per gram is the number of slices
    containing it (≤ |slices|, a small constant) — never documents².
    Output is |slices|² rows.  For thousands of slices the refinement
    is MinHash per slice (b29's signatures aggregated per slice), a
    constant-size sketch per slice — documented path, same pipeline."""
    d = table(spark, sf_dir, "documents")
    # Three consumers (sizes, both self-join sides) read the distinct
    # (lang, gh) frame; it is slice-vocabulary-sized, so it is
    # materialized once and the corpus is exploded exactly ONCE.
    sh = (
        with_shingles(lift_parallelism(d, "doc_id"))
        .select("lang", F.explode("s").alias("g"))
        .select("lang", F.xxhash64("g").alias("gh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    j = inter.join(F.broadcast(sa), "lang_a").join(F.broadcast(sb), "lang_b")
    union = F.col("na") + F.col("nb") - F.col("n_inter")
    return j.select(
        "lang_a",
        "lang_b",
        F.col("n_inter").cast("bigint").alias("n_inter"),
        union.cast("bigint").alias("n_union"),
        F.expr("(1000000 * n_inter) div (na + nb - n_inter)")
        .cast("bigint")
        .alias("jaccard_ppm"),
    )


# ------------------------------------------------- semantic dedup

#: SemDeDup decision threshold in integer micro-cosine.  The synthetic
#: embeddings top out near cos 0.53 (no planted near-identical pairs),
#: so the demo threshold sits inside the data's range to keep the
#: operator non-vacuous; production SemDeDup runs the same plan at
#: ~0.95+.  The predicate compares round(1e6·cos) to this integer so a
#: 1-ulp cross-engine difference in the double cosine cannot flip a
#: keep/drop decision (the b147 integer-decision-predicate rule).
SEMDEDUP_TAU_MICRO = 400_000
SEMDEDUP_K = 8  # deterministic seed centroids: the lowest vec_ids


@query(
    "b149_semdedup",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding FROM embeddings
      WHERE vec_id < {SEMDEDUP_K}),
    best AS (
      SELECT e.vec_id, cid AS cluster_id, e.embedding
      FROM (
        SELECT e.vec_id, c.cid, e.embedding,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY CAST(round(1000000 * list_cosine_similarity(
                            e.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                            AS BIGINT) DESC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN c) e
      WHERE rn = 1),
    dup AS (
      SELECT b.vec_id, count(*) AS n_sem_dups
      FROM best a JOIN best b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE CAST(round(1000000 * list_cosine_similarity(
                a.embedding::DOUBLE[], b.embedding::DOUBLE[])) AS BIGINT)
            >= {SEMDEDUP_TAU_MICRO}
      GROUP BY b.vec_id)
    SELECT best.vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(coalesce(n_sem_dups, 0) AS BIGINT) AS n_sem_dups,
           n_sem_dups IS NULL AS keep
    FROM best LEFT JOIN dup ON best.vec_id = dup.vec_id
    """,
)
def b149_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — semantic deduplication by cluster-then-prune (Abbas
    et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): route every embedding to its
    nearest seed centroid, compare pairs ONLY within a cluster, and
    drop any vector with a higher-similarity twin of lower vec_id
    (the cheap min-id survivor rule; full transitive grouping is
    b29_cc_bigstar's job).  Output: one row per vector with its
    cluster, its lower-id duplicate count, and the keep decision.

    Engine shape — the whole point of SemDeDup is that the quadratic
    compare never sees the corpus, only a cluster: centroids broadcast
    (k rows), assignment is a broadcast-score-rollup identical to
    b40's, and the pair join is an equi-join on cluster_id.  At 100 TB
    k grows ~√n (FAISS practice), so cluster sizes — and the per-key
    fan-out of the self-join — stay bounded; the demo's k=8 is pinned
    only so the DuckDB oracle can replay the exact assignment.  The
    keep/drop predicate is integer micro-cosine (see SEMDEDUP_TAU_MICRO)
    and the argmax tie-break is (cos DESC, cid ASC) — both cross-engine
    deterministic, which is what makes this dedup mode exact-oracled
    where LSH/IVF ANN entries are rows-only."""
    from ..functions.vector import clamp_cos, cosine, dot, norm

    e = table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    # The assignment argmax ranks on INTEGER micro-cosine, not the raw
    # double: ordering raw doubles across engines relies on Spark's and
    # DuckDB's accumulation orders agreeing to the last ulp at every
    # near-tie — the exact failure mode the keep/drop predicate below
    # already avoids (b162_maxsim is the house pattern).
    # Ties resolve on the deterministic lowest-cid rule in both engines.
    best = (
        e.select("vec_id", "embedding")
        .join(F.broadcast(cents))
        .select(
            "vec_id",
            "cid",
            F.round(F.lit(1_000_000) * cosine("embedding", "ce"))
            .cast("bigint")
            .alias("mcos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cid", F.struct(F.col("mcos"), (-F.col("cid")).alias("nc"))
            ).alias("cluster_id")
        )
    )
    # Precompute each vector's norm ONCE before the pair join: cosine()
    # would re-aggregate both norms per PAIR — 3x the per-pair flops on
    # the O(|cluster|²) hot path (measured 230 s → ~80 s at the 16x
    # probe).  clamp_cos(dot/(na·nb)) from the cached columns is the
    # exact expression cosine() builds, so every double is bit-identical.
    assigned = e.select(
        "vec_id", "embedding", norm("embedding").alias("nrm")
    ).join(best, "vec_id")
    # Explicit-width hash repartition on the probe side: AQE coalesces
    # the tiny post-join frame to ~1 partition (rows are few), but each
    # probe row fans out to |cluster| pairs in the join's map task — a
    # 64M-pair explosion serialized on one core at the 16x probe.  An
    # explicit width survives AQE; the exchange carries only the small
    # pre-explosion rows.
    a = assigned.repartition(
        assigned.sparkSession.sparkContext.defaultParallelism,
        # derived key, NOT bare vec_id: assigned is already
        # hash(vec_id)-partitioned from the groupBy, so Catalyst would
        # collapse a same-key repartition and AQE then coalesces the
        # original exchange to ~1 partition — resurrecting the
        # single-core explosion this exchange exists to prevent
        F.pmod(F.xxhash64("vec_id"), F.lit(1024)),
    ).select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # Broadcast the build side: a shuffle join on cluster_id caps
    # parallelism at k tasks (k=8 here — 2 of 32 cores busy at the 16x
    # probe); broadcasting keeps the probe side in its scan partitions
    # so the O(|cluster|²) pair work spreads over every core.  Bounded:
    # the build side is the cluster-assigned sample (|corpus| rows in
    # the demo, a per-cluster-capped sample at 100 TB where k ~ √n).
    dup = (
        a.join(F.broadcast(b), "cluster_id")
        .filter(F.col("id_a") < F.col("vec_id"))
        .filter(
            F.round(
                F.lit(1_000_000)
                * F.when(
                    F.col("na") * F.col("nb") != F.lit(0.0),
                    clamp_cos(dot("ea", "eb") / (F.col("na") * F.col("nb"))),
                )
            ).cast("bigint")
            >= SEMDEDUP_TAU_MICRO
        )
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_sem_dups"))
    )
    return assigned.join(dup, "vec_id", "left").select(
        "vec_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.coalesce("n_sem_dups", F.lit(0)).cast("bigint").alias("n_sem_dups"),
        F.col("n_sem_dups").isNull().alias("keep"),
    )


# --------------------------------------------- containment (subset) dup

#: Containment threshold as an exact rational (integer cross-multiply
#: everywhere; see the b29 prefix-length lesson on float thresholds).
_C_NUM, _C_DEN = 9, 10


@query(
    "b159_containment_dedup",
    oracle=f"""
    WITH g AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter_size,
           CAST(len(a.s) AS BIGINT) AS size_a,
           CAST((1000000 * len(list_intersect(a.s, b.s)))
                // len(a.s) AS BIGINT) AS containment_ppm
    FROM g a JOIN g b ON a.doc_id <> b.doc_id
    WHERE {_C_DEN} * len(list_intersect(a.s, b.s)) >= {_C_NUM} * len(a.s)
    """,
)
def b159_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment dedup: find documents whose 3-gram set is
    ≥ 90% contained in ANOTHER document's — the subset/quote/superset
    duplicates that symmetric Jaccard misses (a snippet pasted into a
    10× longer page has Jaccard ≈ 0.1 but containment ≈ 1.0).
    Asymmetric by design: (id_a ⊂ id_b) and (id_b ⊂ id_a) are separate
    findings.

    Prefix principle, containment form: if |A∩B| ≥ t·|A| then B holds
    one of A's first |A| − ⌈t·|A|⌉ + 1 rarest grams — so the candidate
    join is A's PREFIX index against B's FULL posting list (asymmetric,
    unlike b29_ngram_jaccard's prefix×prefix), and the exact verify
    equals the O(n²) brute-force oracle.  The full-posting side is the
    price of asymmetry; it stays feasible because the prefix side
    carries only rarest-gram entries, bounding per-gram fan-out.
    All index arithmetic is integer (⌈t·|A|⌉ via `div`), all join keys
    are xxhash64 longs (collisions only ADD candidates — the verify
    removes them), and the emitted containment is integer ppm."""
    sh = _shingle_stage(table(spark, sf_dir, "documents"))
    g = _gram_hashes(sh)
    prefix = _prefix_index(g, _C_NUM, _C_DEN).withColumnRenamed("doc_id", "id_a")
    full = g.select(F.col("doc_id").alias("id_b"), "gh")
    cands = (
        prefix.join(full, "gh")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        _with_sets(cands, sh)
        .withColumn(
            "inter_size",
            F.size(F.array_intersect("sa", "sb")).cast("bigint"),
        )
        .withColumn("size_a", F.size("sa").cast("bigint"))
        .filter(_C_DEN * F.col("inter_size") >= _C_NUM * F.col("size_a"))
        .select(
            "id_a",
            "id_b",
            "inter_size",
            "size_a",
            F.expr("CAST((1000000 * inter_size) div size_a AS BIGINT)").alias(
                "containment_ppm"
            ),
        )
    )
