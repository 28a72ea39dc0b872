"""Text-analysis operators over the documents table (SURVEY.md §2 B31).

Language ID, quality scoring, token counting, fingerprinting — all
JVM-side except language ID (an n-gram-profile Pandas UDF, Arrow-
batched).  At 100 TB these are embarrassingly parallel scans: no
shuffle except the term-frequency groupBy, which map-side combines
down to vocabulary size.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.exact import davg, sql_davg
from ..io import lift_parallelism, local_frame, table
from ..registry import query

#: Stopword set for ratio features (tiny, deterministic, shared with the
#: oracle SQL below).
STOPWORDS = ("the", "a", "of", "and", "in")

_SQL_STOP = "('" + "', '".join(STOPWORDS) + "')"


@query(
    "b31_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS avg_token_len,
           round(CAST(len(list_filter(string_split(text, ' '),
                                      t -> t IN {_SQL_STOP})) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stopword_ratio
    FROM documents
    """,
)
def b31_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: per-document quality features — char/token counts, mean
    token length, stopword ratio.  Pure narrow projection."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_toks = F.size(toks).cast("bigint")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        n_toks.alias("n_tokens"),
        F.round(
            F.length(F.replace("text", F.lit(" "), F.lit(""))).cast("double") / n_toks,
            4,
        ).alias("avg_token_len"),
        F.round(
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
            / n_toks,
            4,
        ).alias("stopword_ratio"),
    )


@query(
    "b31_quality_score",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ttr,
               CAST(len(list_filter(string_split(text, ' '),
                                    t -> t IN {_SQL_STOP})) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stop_ratio
        FROM documents
    )
    SELECT doc_id, lang,
           round(0.4 * least(n_tokens / 100.0, 1.0)
                 + 0.4 * ttr
                 + 0.2 * least(stop_ratio * 5.0, 1.0), 6) AS quality
    FROM feats
    """,
)
def b31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: composite quality score (length + type-token ratio +
    stopword presence), the usual pre-training heuristic filter shape."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n
    return d.select(
        "doc_id",
        "lang",
        F.round(
            0.4 * F.least(n / 100.0, F.lit(1.0))
            + 0.4 * ttr
            + 0.2 * F.least(stop * 5.0, F.lit(1.0)),
            6,
        ).alias("quality"),
    )


@query(
    "b31_term_freq",
    oracle="""
    SELECT t.token, count(*) AS n, count(DISTINCT doc_id) AS df
    FROM documents, unnest(string_split(text, ' ')) AS t(token)
    GROUP BY t.token
    """,
)
def b31_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: corpus term + document frequencies (explode → groupBy;
    map-side combine collapses to vocabulary size before the shuffle)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("df"))
    )


@query(
    "b31_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                               ' ')) AS fingerprint
    FROM documents
    """,
)
def b31_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: order-insensitive document fingerprint (sorted distinct
    token set → md5) — the cheap bag-of-words content address."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
        ).alias("fingerprint"),
    )


@query(
    "b31_lang_stats",
    oracle=f"""
    SELECT lang, count(*) AS n_docs, {sql_davg('n_chars')} AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def b31_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: per-language corpus profile (the filter knob for
    language-targeted training mixes)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), davg("n_chars").alias("avg_chars")
    )


# Character n-gram marker profiles per language for the deterministic
# classifier.  Deterministic and tiny on purpose: the *kernel* (marker
# occurrence counting + integer argmax, all inside whole-stage
# codegen) is the engine feature; swap profiles for an offline-trained
# model (fastText etc.) in production and nothing else changes —
# b178_quality_classifier shows the same swap for the quality gate.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "ing", " th", "ion"),
    "es": ("ión", " de", "los", "ar ", "que"),
    "fr": ("les", " le", "ent", "tion", " de"),
    "de": ("der", "sch", "ein", "ung", "cht"),
    "zh": ("的", "数", "表", "行", "列"),
}


def _langid_score_sql(col: str, markers: tuple[str, ...], intdiv: str) -> str:
    """Integer marker-occurrence score as portable SQL: each marker
    contributes its NON-OVERLAPPING occurrence count, computed as
    (length(t) - length(replace(t, m, ''))) ÷ length(m) — exact
    integer division because the numerator is a multiple of the marker
    length; both engines' length()/replace() are character-based and
    case-sensitive, and greedy left-to-right replace removes exactly
    the occurrences Python's str.count counts.  ``intdiv`` is the one
    dialect split: Spark spells integer division ``div``, DuckDB
    ``//``."""
    return " + ".join(
        f"((length({col}) - length(replace({col}, '{m}', ''))) "
        f"{intdiv} {len(m)})"
        for m in markers
    )


#: The classifier decision over pre-computed per-language score
#: columns s_<lang>: strict-argmax over the fixed language order
#: (first language attaining the max wins — exactly Python's
#: ``score > best_score`` fold over dict order), 'und' when every
#: score is zero.  Shared verbatim by the Spark projection and the
#: DuckDB oracle.
_LANGID_CASE_SQL = (
    "CASE WHEN _m = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lang} = _m THEN '{lang}'" for lang in _LANG_MARKERS)
    + " ELSE 'und' END"
)
_LANGID_MAX_SQL = (
    "greatest(" + ", ".join(f"s_{lang}" for lang in _LANG_MARKERS) + ")"
)


def _langid_oracle_sql() -> str:
    """The whole classifier replayed as DuckDB SQL: a scores CTE (one
    integer column per language), then the shared max + CASE."""
    col = "coalesce(text, '')"
    score_cols = ",\n           ".join(
        f"{_langid_score_sql(col, m, '//')} AS s_{lang}"
        for lang, m in _LANG_MARKERS.items()
    )
    return f"""
    WITH scores AS (
      SELECT doc_id, lang,
           {score_cols}
      FROM documents
    ), mx AS (
      SELECT *, {_LANGID_MAX_SQL} AS _m FROM scores
    )
    SELECT doc_id, lang, {_LANGID_CASE_SQL} AS lang_pred FROM mx
    """


@pandas_udf(T.StringType())
def langid_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched twin of the expression classifier — kept as the
    reference implementation of the scoring rule (a real model swap
    lands here first); tests/test_llmops.py pins it exactly equal to
    the registered expression path on fixtures, ties, NULLs, and the
    corpus."""

    def classify(t: str) -> str:
        if t is None:
            return "und"
        best, best_score = "und", 0
        for lang, markers in _LANG_MARKERS.items():
            score = sum(t.count(m) for m in markers)
            if score > best_score:
                best, best_score = lang, score
        return best

    return texts.map(classify)


@query("b31_langid", oracle=_langid_oracle_sql())
def b31_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: character-n-gram-marker language ID as a pure JVM
    expression — per-language integer marker-occurrence scores
    (length-of-replace counting, the non-overlapping count both
    engines and Python agree on) and a strict-argmax CASE over the
    fixed language order, 'und' when no marker fires.  Deterministic
    integer scoring end-to-end, so the whole rule replays in the
    DuckDB oracle (the b178 pattern; formerly a rows-only pandas UDF).

    Engine shape at 100 TB: a single narrow projection inside
    whole-stage codegen over the scan — no UDF, no Arrow round-trip,
    no shuffle, no state; identical cost to any other per-row string
    expression.  The Arrow-batched twin (langid_udf) stays as the
    model-swap seam, equivalence-pinned in tests/test_llmops.py."""
    d = table(spark, sf_dir, "documents")
    scored = d.withColumn("_t", F.coalesce(F.col("text"), F.lit(""))).select(
        "doc_id",
        "lang",
        *[
            F.expr(_langid_score_sql("_t", m, "div")).alias(f"s_{lang}")
            for lang, m in _LANG_MARKERS.items()
        ],
    )
    return scored.withColumn("_m", F.expr(_LANGID_MAX_SQL)).select(
        "doc_id", "lang", F.expr(_LANGID_CASE_SQL).alias("lang_pred")
    )


#: GPT-2-style pre-tokenizer regex, restricted to constructs both Java
#: regex (Spark) and RE2 (DuckDB) support — i.e. no lookahead; the
#: trailing-space refinement BPE uses is immaterial for *counting*.
#: Alternation order matters (leftmost-first in both engines): keep it
#: identical on both sides.
BPE_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


@query(
    "b31_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_REGEX.replace("'", "''")}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text,
                '{BPE_REGEX.replace("'", "''")}'))) AS BIGINT) AS n_unique_tokens
    FROM documents
    """,
)
def b31_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: BPE-ish token counting — the LLM-pipeline length signal
    (whitespace counting undercounts punctuation-heavy text).  One
    narrow JVM-side regexp_extract_all projection, hash-checked against
    DuckDB's RE2 on the byte-identical pattern."""
    d = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(BPE_REGEX), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
    )


@query(
    "b31_gopher_filters",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS n_nonspace
      FROM documents)
    SELECT doc_id, lang, n_words,
           (n_words BETWEEN 5 AND 10000)                          AS ok_len,
           (n_nonspace::DOUBLE / n_words BETWEEN 2 AND 12)        AS ok_word_len,
           (len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
              / n_words >= 0.8)                                   AS ok_alpha,
           (len(list_filter(toks, x -> x IN {_SQL_STOP}))::DOUBLE
              / n_words >= 0.01)                                  AS ok_stop,
           ((n_words BETWEEN 5 AND 10000)
            AND (n_nonspace::DOUBLE / n_words BETWEEN 2 AND 12)
            AND (len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
                   / n_words >= 0.8)
            AND (len(list_filter(toks, x -> x IN {_SQL_STOP}))::DOUBLE
                   / n_words >= 0.01))                            AS keep
    FROM t
    """,
)
def b31_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: Gopher/C4-style rule-based quality gate (Rae et al. 2021
    §A1-style heuristics, thresholds adapted to the synthetic corpus):
    word-count bounds, mean-word-length bounds, alphabetic-word
    fraction, stopword-presence floor, and the conjunctive keep bit.
    Emitting per-rule booleans (not just the verdict) is deliberate —
    at corpus scale you audit WHICH rule kills documents before you
    trust the gate.  All ratios are integer-count divisions, so the
    threshold comparisons are bit-deterministic cross-engine.  One
    map-side pass, no shuffle, no UDF."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    mean_wl = (
        F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words
    )
    alpha = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / n_words
    )
    stop = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n_words
    )
    ok_len = n_words.between(5, 10000)
    ok_word_len = mean_wl.between(2, 12)
    ok_alpha = alpha >= 0.8
    ok_stop = stop >= 0.01
    return d.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        ok_len.alias("ok_len"),
        ok_word_len.alias("ok_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_len & ok_word_len & ok_alpha & ok_stop).alias("keep"),
    )


# ------------------------------------------------------------- repetition

def _word_grams(toks, n_words, k: int):
    """Word k-grams as an array column (empty when the doc is shorter
    than k) — built with sequence+transform so gram construction stays
    inside whole-stage codegen; no explode, no shuffle."""
    idx = F.sequence(F.lit(1), n_words - (k - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(k)]
    )
    return F.when(n_words >= k, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def _top_run(sorted_arr):
    """(count, value) of the most frequent element of a SORTED array,
    computed as a single in-row fold: equal neighbors form runs, the
    longest run wins, first-strictly-greater keeps ties on the
    smallest value (= count DESC, value ASC).  Zero shuffle — the
    Gopher repetition statistics need the per-document mode, and
    explode+groupBy would shuffle the full gram volume (~n_words rows
    per doc) at 100 TB just to answer a per-row question."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(None).cast("string").alias("bestg"),
    )

    def step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        hit = run > acc["best"]
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(hit, run).otherwise(acc["best"]).alias("best"),
            F.when(hit, g).otherwise(acc["bestg"]).alias("bestg"),
        )

    return F.aggregate(sorted_arr, zero, step)


def repetition_batches(batches):
    """Arrow-batched repetition statistics: per document (one row, no
    shuffle) the duplicate-word fraction, the most-frequent-2-gram
    char coverage (ties: count DESC, gram ASC), and the duplicate-
    5-gram fraction — RAW doubles; rounding happens Spark-side so it
    is bit-identical to F.round's HALF_UP.  The arithmetic mirrors the
    Catalyst expression twin (`_word_grams`/`_top_run`; int counts,
    one double divide, same operation order), so the two paths produce
    identical IEEE doubles — equivalence pinned in tests."""
    from collections import Counter

    for pdf in batches:
        dw, t2, d5 = [], [], []
        for s in pdf["text"]:
            toks = s.split(" ")
            n = len(toks)
            dw.append(1.0 - len(set(toks)) / n)
            nonspace = len(s) - s.count(" ")
            if n >= 2:
                c = Counter(
                    toks[i] + " " + toks[i + 1] for i in range(n - 1)
                )
                bn = max(c.values())
                bg = min(g for g, v in c.items() if v == bn)
                num = bn * (len(bg) - bg.count(" "))
                # nonspace == 0 (all-space text) → 0.0, matching the
                # replaced Catalyst twin: Spark's non-ANSI Divide yields
                # NULL on /0 and the pipeline coalesced that to 0.0.
                # IEEE inf/nan here would silently diverge from the
                # documented equivalence if such a doc ever appears.
                t2.append(num / nonspace if nonspace else 0.0)
            else:
                t2.append(0.0)
            if n >= 5:
                g5 = {" ".join(toks[i : i + 5]) for i in range(n - 4)}
                d5.append(1.0 - len(g5) / (n - 4))
            else:
                d5.append(0.0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "raw_dup_word": dw,
                "raw_top2": t2,
                "raw_dup5": d5,
            }
        )


@query(
    "b31_repetition_filters",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS n_nonspace
      FROM documents),
    g2 AS (
      SELECT doc_id, unnest(
               [array_to_string(toks[i:i+1], ' ')
                FOR i IN generate_series(1, n_words - 1)]) AS gram
      FROM t WHERE n_words >= 2),
    c2 AS (
      SELECT doc_id, gram, count(*) AS n FROM g2 GROUP BY doc_id, gram),
    top2 AS (
      SELECT doc_id, gram, n,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY n DESC, gram ASC) AS rn
      FROM c2),
    g5 AS (
      SELECT doc_id,
             len([1 FOR i IN generate_series(1, n_words - 4)]) AS n5,
             len(list_distinct(
               [array_to_string(toks[i:i+4], ' ')
                FOR i IN generate_series(1, n_words - 4)])) AS d5
      FROM t WHERE n_words >= 5)
    SELECT t.doc_id,
           round(1.0 - CAST(len(list_distinct(t.toks)) AS DOUBLE) / t.n_words,
                 4) AS dup_word_frac,
           round(coalesce(CAST(top2.n * length(replace(top2.gram, ' ', ''))
                               AS DOUBLE) / t.n_nonspace, 0.0), 4)
               AS top_2gram_char_frac,
           round(coalesce(1.0 - CAST(g5.d5 AS DOUBLE) / g5.n5, 0.0), 4)
               AS dup_5gram_frac
    FROM t
    LEFT JOIN top2 ON top2.doc_id = t.doc_id AND top2.rn = 1
    LEFT JOIN g5 ON g5.doc_id = t.doc_id
    """,
)
def b31_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: Gopher-style repetition statistics (Rae et al. 2021, §A1.1
    "repetitious text" signals, adapted to word granularity because the
    synthetic corpus has no line structure): duplicate-word fraction,
    fraction of non-space characters covered by the most frequent word
    2-gram, and duplicate-5-gram fraction.

    Engine shape: one narrow Arrow-batched mapInPandas pass — zero
    shuffles; the gram multiset never leaves its row.  This REPLACED an
    all-Catalyst sequence/transform/aggregate fold (kept as the
    expression twin `_word_grams`/`_top_run`, equivalence pinned in
    tests): higher-order-function lambdas are evaluated INTERPRETED
    per element, and the measured cost at sf0.1 was ~10 s vs ~0.7 s
    for the same statistics vectorized over Arrow batches — the rare
    case where the "UDFs are the slow path" default inverts, because
    the builtin path was never codegen'd to begin with.  The DuckDB
    oracle computes the same mode relationally (unnest → count →
    row_number) — the plan shape both Spark paths deliberately avoid
    at 100 TB (the gram volume is ~n_words rows per document).  Ties
    on the mode break as (count DESC, gram ASC) on all three paths;
    rounding is Spark-side F.round so the differential stays exact."""
    d = table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "text").mapInPandas(
        repetition_batches,
        schema=(
            "doc_id bigint, raw_dup_word double, "
            "raw_top2 double, raw_dup5 double"
        ),
    )
    return raw.select(
        "doc_id",
        F.round("raw_dup_word", 4).alias("dup_word_frac"),
        F.round("raw_top2", 4).alias("top_2gram_char_frac"),
        F.round("raw_dup5", 4).alias("dup_5gram_frac"),
    )


# -------------------------------------------------------------------- PII

#: Deliberately simple ASCII patterns written to the common subset of
#: Java regex (Spark) and RE2 (DuckDB) so both engines match the same
#: spans: no lookaround, no backreferences, POSIX classes avoided.
PII_EMAIL = "[a-z0-9._]+@[a-z0-9-]+[.][a-z]+"
PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
PII_PHONE = "555-[0-9]{4}"

#: Deterministic PII injection (the synthetic corpus is PII-free, so
#: both engines append the same synthetic identifiers derived from
#: doc_id — the operator under test is the scan/redaction, not the
#: fixture).
_PII_SQL_TEXT = """
      text
      || CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || doc_id || '@example.com' ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              ELSE '' END
"""


@query(
    "b31_pii_scan",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, {_PII_SQL_TEXT} AS ptext FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(ptext, '{PII_EMAIL}')) AS BIGINT)
               AS n_email,
           CAST(len(regexp_extract_all(ptext, '{PII_IPV4}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(ptext, '{PII_PHONE}')) AS BIGINT)
               AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(ptext,
                 '{PII_EMAIL}', '<EMAIL>', 'g'),
                 '{PII_IPV4}', '<IP>', 'g'),
                 '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
    FROM p
    """,
)
def b31_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: PII detection + redaction — emails, IPv4 addresses, phone
    numbers counted per document and scrubbed with typed placeholder
    tokens; the redacted text is emitted as an md5 so the full
    scrubbed corpus never leaves the executor in this report query.

    JVM-side regexp_count/regexp_replace only (redaction is the classic
    case where reaching for a Python UDF costs 10-100×); patterns are
    restricted to the Java-regex ∩ RE2 subset so the DuckDB oracle
    matches byte-identical spans.  At 100 TB this is an embarrassingly
    parallel scan — no shuffle, and the match counts feed the same
    audit-before-trust loop as b31_gopher_filters."""
    d = table(spark, sf_dir, "documents")
    ptext = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" from 10.0."), F.col("doc_id") % 256, F.lit(".1")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" call 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(""),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(ptext, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(ptext, F.lit(PII_EMAIL)).cast("bigint").alias("n_email"),
        F.regexp_count(ptext, F.lit(PII_IPV4)).cast("bigint").alias("n_ip"),
        F.regexp_count(ptext, F.lit(PII_PHONE)).cast("bigint").alias("n_phone"),
        F.md5(redacted).alias("redacted_md5"),
    )


# ------------------------------------------------------- contamination

#: Shingle width for benchmark-overlap detection.  Production
#: contamination checks use 8-13-word shingles (GPT-3 appendix C /
#: PaLM-style); the synthetic corpus draws from a tiny vocabulary, so 3
#: keeps the overlap signal non-degenerate while exercising identical
#: plumbing.
CONTAM_K = 3
#: Every 97th document plays the held-out benchmark.
CONTAM_MOD = 97


@query(
    "b37_contamination",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_words
      FROM documents),
    g AS (
      SELECT doc_id, unnest(
               [array_to_string(toks[i:i+{CONTAM_K - 1}], ' ')
                FOR i IN generate_series(1, n_words - {CONTAM_K - 1})]) AS gram
      FROM t WHERE n_words >= {CONTAM_K}),
    bg AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {CONTAM_MOD} = 0),
    ov AS (
      SELECT g.doc_id, count(*) AS n_overlap
      FROM g JOIN bg USING (gram)
      WHERE g.doc_id % {CONTAM_MOD} <> 0
      GROUP BY g.doc_id)
    SELECT t.doc_id,
           CAST(greatest(t.n_words - {CONTAM_K - 1}, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           coalesce(ov.n_overlap, 0) > 0 AS contaminated
    FROM t LEFT JOIN ov ON ov.doc_id = t.doc_id
    WHERE t.doc_id % {CONTAM_MOD} <> 0
    """,
)
def b37_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag training documents sharing
    word shingles with a held-out benchmark set (here: every 97th doc).

    Engine shape for 100 TB: the benchmark shingle set is tiny relative
    to the corpus (benchmarks are MBs, corpora are TBs), so it is
    DISTINCT'd and **broadcast** — the corpus-side gram stream joins
    against it with no shuffle of the big side, and the only exchange
    is the partially-aggregated (doc_id, count) rollup.  Gram emission
    is one Arrow-batched mapInPandas pass PER SIDE (the bench-side
    filter pushes to the scan): this replaced a shared Catalyst
    sequence/transform gram array that was interpreted per element AND
    rebuilt by every consumer — 12.6 s → ~1 s at sf0.1, measured.
    ``n_grams`` is arithmetic (n_words − k + 1), not a gram-array
    size, so the result leg never builds grams at all.  Gram matching
    is on raw strings to keep the oracle byte-identical; at scale you
    xxhash64 shingles to 8-byte keys first (false-positive rate is
    acceptable for a contamination *gate*, and flagged docs get a
    verify pass)."""
    d = table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % CONTAM_MOD == 0

    def gram_batches(batches):
        for pdf in batches:
            ids, grams = [], []
            for doc_id, s in zip(pdf["doc_id"], pdf["text"]):
                toks = s.split(" ")
                for i in range(len(toks) - (CONTAM_K - 1)):
                    ids.append(doc_id)
                    grams.append(" ".join(toks[i : i + CONTAM_K]))
            yield pd.DataFrame({"doc_id": ids, "gram": grams})

    gram_schema = "doc_id bigint, gram string"
    bench_grams = (
        d.filter(is_bench)
        .select("doc_id", "text")
        .mapInPandas(gram_batches, schema=gram_schema)
        .select("gram")
        .distinct()
    )
    corpus_grams = (
        d.filter(~is_bench)
        .select("doc_id", "text")
        .mapInPandas(gram_batches, schema=gram_schema)
    )
    overlaps = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_words = F.size(F.split("text", " "))
    return (
        d.filter(~is_bench)
        .select(
            "doc_id",
            F.greatest(n_words - (CONTAM_K - 1), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
        )
        .join(overlaps, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ----------------------------------------------- C4-style line dedup

#: Tokens per derived line.  The corpus ships single-line documents, so
#: lines are derived as fixed 8-token chunks — IDENTICALLY on both
#: engines (the b31_pii_scan fixture argument: the operator under test
#: is the corpus-level line-frequency machinery, not the line splitter).
_LINE_W = 8
#: A line is corpus boilerplate when it appears in at least this many
#: DISTINCT documents (C4 discards any three-sentence-ish span occurring
#: more than once; the tiny synthetic vocabulary needs a higher floor to
#: keep the kept/dropped split non-degenerate).
_LINE_K = 3


@query(
    "b69_line_dedup",
    oracle=f"""
    WITH lines AS (
      SELECT doc_id, ln.pos, ln.line FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, CAST(ceil(len(str_split(text, ' ')) / {_LINE_W}.0)
                       AS BIGINT) + 1),
                 i -> struct_pack(pos := i,
                      line := array_to_string(
                        list_slice(str_split(text, ' '),
                                   (i - 1) * {_LINE_W} + 1,
                                   i * {_LINE_W}), ' ')))) AS ln
        FROM documents)),
    freq AS (
      SELECT line, count(DISTINCT doc_id) AS n_docs
      FROM lines GROUP BY line),
    kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l JOIN freq f ON l.line = f.line
      WHERE f.n_docs < {_LINE_K})
    SELECT d.doc_id,
           CAST((SELECT count(*) FROM lines l2
                 WHERE l2.doc_id = d.doc_id) AS BIGINT) AS n_lines,
           CAST(COALESCE((SELECT count(*) FROM kept k2
                 WHERE k2.doc_id = d.doc_id), 0) AS BIGINT) AS n_kept,
           COALESCE((SELECT string_agg(k3.line, ' ' ORDER BY k3.pos)
                 FROM kept k3 WHERE k3.doc_id = d.doc_id), '')
             AS cleaned_text
    FROM documents d
    """,
)
def b69_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-STYLE CORPUS-LEVEL LINE DEDUP — the web-scale cleaning step
    where a line (nav bar, cookie banner, license footer) is dropped
    from EVERY document once it repeats across ≥ K distinct documents.
    Pairwise dedup can't express this; it is a corpus-global frequency
    join: explode lines → count distinct docs per line → re-join →
    re-assemble surviving lines in order.

    Scale: the line-frequency table shuffles (line_hash, doc_id) pairs
    once and aggregates down to |distinct lines|; the re-join keys on
    the line again (same partitioning), and re-assembly is one
    (doc_id)-keyed sort-free aggregate — sort_array over (pos, line)
    structs inside the row, NOT a window sort.  At 100 TB you'd hash
    lines to 8-byte keys for the frequency pass (same argument as
    b37_contamination) and keep the raw line only in the re-join;
    boilerplate lines are the head of a zipfian distribution, so the
    frequency table is small and AQE broadcast-joins it back."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_lines_of = F.ceil(F.size(toks) / F.lit(float(_LINE_W))).cast("int")
    lines = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_lines_of),
                lambda i: F.array_join(
                    F.slice(toks, (i - 1) * _LINE_W + 1, _LINE_W), " "
                ),
            )
        ).alias("pos0", "line"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "line")
    freq = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    kept = lines.join(freq, "line").filter(F.col("n_docs") < _LINE_K)
    # Optimization (guide §2.4): the per-doc line count is
    # ceil(|tokens|/W) by construction — a narrow projection of the
    # document table, not a third corpus-wide line explode + groupBy
    # shuffle (the exploded count equals n_lines_of exactly: the
    # sequence emits one row per line index, null text propagates to a
    # null handled by the outer coalesce either way).
    per_doc_total = d.select(
        "doc_id", n_lines_of.cast("bigint").alias("n_lines")
    )
    per_doc_kept = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "line"))
                ),
                lambda s: s.line,
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        # per_doc_total is the full document table projected — no
        # extra doc_id spine join needed
        per_doc_total
        .join(per_doc_kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


#: b132 vocabulary size — top-K tokens by corpus frequency.
_VOCAB_K = 1000


@query(
    "b132_vocab_oov",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS n FROM toks GROUP BY tok
        ORDER BY n DESC, tok LIMIT {_VOCAB_K}))
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def b132_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE: per-document out-of-vocabulary token count
    against the corpus's own top-K token vocabulary — the feasibility
    probe run before committing to a fixed tokenizer/vocab (docs with
    high OOV under the candidate vocab will fragment into byte
    fallbacks and inflate sequence length).  Deterministic vocab:
    count desc, token asc tiebreak.

    Scale: one token-count aggregation (map-side combinable), a
    K-row vocab that BROADCASTS back into the exploded token stream
    (hash join against K entries — no shuffle of the corpus beyond
    the per-doc re-aggregation), one per-doc count.  The global
    top-K sort runs on the distinct-token table, not the corpus, and
    K rows cross the driver boundary nowhere — limit+broadcast stays
    on executors."""
    d = table(spark, sf_dir, "documents")
    # The token stream has two consumers (vocab count + join probe).
    # RECOMPUTE, don't cache: split+explode is a narrow pipeline off
    # the parquet scan, so the second pass costs one extra scan —
    # while a .cache() here leaks (the builder returns a lazy frame,
    # so there is no post-materialization point to unpersist at, and
    # repeated invocations would stack cached plans until LRU
    # eviction).  At cluster scale the same trade reads:
    # persist(MEMORY_AND_DISK) only under an explicit lifecycle
    # owner, otherwise recompute.
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1))
            .cast("bigint")
            .alias("n_oov"),
        )
    )


# ------------------------------------- substring-level exact dedup

#: Span threshold: a token span this long appearing in >= 2 distinct
#: documents is corpus duplication and every occurrence is excised
#: (the scalable K-gram-anchor approximation of suffix-array
#: substring dedup; proportionally scaled to this corpus's ~30-word
#: synthetic vocabulary, where 12 consecutive shared tokens cannot
#: arise by chance).
_SUB_K = 12


@query(
    "b139_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
    grams AS (
      SELECT doc_id, g.i, g.gram FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(ts) - {_SUB_K} + 2),
                 i -> struct_pack(i := i,
                      gram := array_to_string(
                        list_slice(ts, i, i + {_SUB_K} - 1), ' ')))) AS g
        FROM toks WHERE len(ts) >= {_SUB_K})),
    dup AS (
      SELECT gram FROM grams
      GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    covered AS (
      SELECT DISTINCT g.doc_id, u.pos
      FROM grams g JOIN dup USING (gram),
           LATERAL (SELECT unnest(range(g.i, g.i + {_SUB_K})) AS pos) u),
    tokens AS (
      SELECT doc_id, generate_subscripts(ts, 1) AS pos, unnest(ts) AS tok
      FROM toks),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok FROM tokens t
      WHERE NOT EXISTS (SELECT 1 FROM covered c
                        WHERE c.doc_id = t.doc_id AND c.pos = t.pos))
    SELECT d.doc_id,
           CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(str_split(d.text, ' '))
                - COALESCE((SELECT count(*) FROM kept k
                            WHERE k.doc_id = d.doc_id), 0) AS BIGINT)
             AS n_removed,
           COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.pos)
                     FROM kept k WHERE k.doc_id = d.doc_id), '')
             AS clean_text
    FROM documents d
    """,
)
def b139_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-LEVEL EXACT DEDUP — the LLM-corpus cleaning mode the
    doc-level (b28), line-level (b69), and near-dup (b29) families
    don't cover: a >= K-token span repeated across >= 2 distinct
    documents is excised from EVERY occurrence, leaving the
    non-duplicated remainder of each document intact.  This is the
    K-gram-anchor approximation of suffix-array substring dedup
    (ExactSubstr): every duplicated span of length >= K is, by
    construction, a union of duplicated K-grams, so marking the token
    positions covered by any cross-document K-gram hit removes exactly
    the maximal duplicated spans — no suffix array needed, only
    corpus-wide group-bys and joins.

    Scale: sliding K-grams cost K rows per token — but the gram
    frequency pass aggregates map-side and only CROSS-DOC grams
    survive to the coverage join (zipfian head, like b69's line
    frequencies), so the expensive join input is |duplicated grams|,
    not |corpus grams|.  Three shuffles: gram frequency, coverage
    distinct on (doc_id, pos), and the final per-doc reassembly
    (sort_array inside the row, not a window sort — b69's pattern).
    At 100 TB the gram string key becomes xxhash64(gram) for the
    frequency+join passes (collision-checked on the survivors), and
    the (doc_id, pos) coverage anti-join co-partitions with the token
    explode on doc_id — both sides already hash by doc_id."""
    return substring_dedup(table(spark, sf_dir, "documents"))


def substring_dedup(d: DataFrame, k: int = _SUB_K) -> DataFrame:
    """The b139 dataflow over any (doc_id, text) frame — separated so
    the planted-duplicate fixture test (tests/test_llmops.py) drives
    the exact span-boundary semantics directly.

    Two-phase exactly like the 100 TB design: phase 1 never
    materializes a gram STRING — each sliding window hashes as
    xxhash64 over the token-array slice, so the corpus-wide frequency
    shuffle carries 8-byte keys, and the cross-doc candidate set is a
    SUPERSET (hash collisions included).  Phase 2 rebuilds the actual
    gram strings ONLY for candidate positions (survivors join back to
    the doc table — zipfian-head-sized, broadcastable) and re-applies
    the cross-doc test on the true string, so a collision can only
    add phase-2 work, never a wrong result.  With the touched-only
    rewrite and the parallelism lift below: 52 s → 7.4 s at the 16x
    sweep (2.2 s at sf0.1)."""
    ts = F.split("text", " ")
    from ..io import lift_parallelism

    # Lift parallelism BEFORE the gram stream: the doc table often
    # arrives as a handful of parquet splits, and every downstream
    # narrow stage (per-position slice+hash — the CPU-heavy part)
    # would inherit that width (measured: 2 tasks doing 18 s of
    # hashing that 32 do in ~1 s).  The shared helper hash-partitions
    # (deterministic → ReusedExchange-eligible for the five consumers
    # below) and no-ops when the scan already has enough splits.
    d = lift_parallelism(d, "doc_id")
    gh_stream = (
        d.filter(F.size(ts) >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - k + 1),
                    lambda i: F.xxhash64(F.slice(ts, i, k)),
                )
            ).alias("i0", "gh"),
        )
        .select("doc_id", (F.col("i0") + 1).alias("i"), "gh")
    )
    # cross-document test as min≠max, not count_distinct: one plain
    # min/max agg (map-side combinable, no distinct expansion) decides
    # ">= 2 distinct docs" exactly.
    cand = (
        gh_stream.groupBy("gh")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("gh")
    )
    surv = gh_stream.join(cand, "gh").select("doc_id", "i")
    grams = surv.join(
        d.select("doc_id", ts.alias("ts")), "doc_id"
    ).select(
        "doc_id", "i", F.array_join(F.slice("ts", F.col("i"), k), " ").alias("gram")
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + k - 1)
            ).alias("pos"),
        )
        .distinct()
        # materialized once: three consumers below, and its lineage
        # carries the corpus-wide gram-frequency shuffle — recomputing
        # it per consumer would triple the expensive phase
        .localCheckpoint(eager=True)
    )
    # Rewrite ONLY the touched documents.  Docs with no covered
    # position — the overwhelming majority under real dup rates — pass
    # through as a narrow projection, never exploded to tokens; the
    # token-level anti-join + reassembly runs over duplicated-span
    # volume, not corpus volume (at 100 TB
    # this is the difference between rewrite-what-changed and
    # re-tokenize-everything).
    touched = covered.select("doc_id").distinct()
    untouched_out = d.join(touched, "doc_id", "left_anti").select(
        "doc_id",
        F.size(ts).cast("bigint").alias("n_tokens"),
        F.lit(0).cast("bigint").alias("n_removed"),
        F.col("text").alias("clean_text"),
    )
    tokens_t = (
        d.join(touched, "doc_id")
        .select("doc_id", F.posexplode(ts).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    kept = tokens_t.join(covered, ["doc_id", "pos"], "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("clean_text"),
    )
    touched_out = (
        d.join(touched, "doc_id")
        .select("doc_id", F.size(ts).cast("bigint").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
    return untouched_out.unionByName(touched_out)


# ------------------------------------------------------- BPE training

BPE_MERGES = 20  # merge rounds learned by the demo (the algorithm, not
#                  the vocab size, is what's under test)


#: Word-dictionary size above which b156's merge loop runs as the
#: distributed per-round Spark plan instead of the driver-side
#: sequential loop.  Real tokenizer training dictionaries are
#: 100k-10M entries — a bounded driver collect by the engine's
#: collect rules (codebooks, merge argmax, convergence scalars), and
#: the sequential loop is the reference algorithm itself, so the
#: driver path is both the fast path and the semantics anchor; the
#: distributed path exists for dictionaries that genuinely don't fit
#: (equivalence pinned in tests/test_llmops.py).
BPE_TRAIN_DRIVER_MAX = 1_000_000


def _bpe_train_driver(dic: dict[str, int]) -> list[tuple[int, str, str, int]]:
    """Sequential reference BPE over the collected word dictionary —
    merge loop identical to Sennrich et al.'s published algorithm.
    Distinct words stay distinct symbol strings under merging (their
    concatenations never change), so plain dict rebuilds are safe."""
    import re as _re

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(BPE_MERGES):
        counts: dict[tuple[str, str], int] = {}
        for sym, freq in dic.items():
            toks = sym.split(" ")
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        (left, right), pf = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, int(pf)))
        pat = _re.compile(
            r"(?<!\S)" + _re.escape(left) + " " + _re.escape(right) + r"(?!\S)"
        )
        dic = {pat.sub(left + right, sym): freq for sym, freq in dic.items()}
    return merges


def _bpe_train_distributed(words) -> list[tuple[int, str, str, int]]:
    """Per-round Spark merge loop for dictionaries too large to
    collect: pair explode ≤ avg word length per entry, pair groupBy
    bounded by symbol-pair vocabulary, argmax as a 1-row TakeOrdered
    (the b131/b97 iterative-loop contract), merge application as one
    regexp_replace pass over the dictionary, vocab-sized
    localCheckpoint per round against lineage growth.  Java regex's
    leftmost non-overlapping replacement is exactly the reference's
    greedy-left semantics, so this path is bit-identical to
    _bpe_train_driver (pinned in tests)."""
    import re as _re

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(BPE_MERGES):
        pair_toks = F.split("sym", " ")
        n = F.size(pair_toks)
        pairs = F.arrays_zip(
            F.slice(pair_toks, F.lit(1), n - 1),
            F.slice(pair_toks, F.lit(2), n - 1),
        )
        best = (
            words.select(F.explode(pairs).alias("p"), "freq")
            .groupBy(
                F.col("p.0").alias("left"), F.col("p.1").alias("right")
            )
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), "left", "right")
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, pf = best[0].left, best[0].right, best[0].pair_freq
        merges.append((rank, left, right, int(pf)))
        pat = r"(?<!\S)" + _re.escape(left) + " " + _re.escape(right) + r"(?!\S)"
        words = words.select(
            F.regexp_replace("sym", pat, left + right).alias("sym"), "freq"
        ).localCheckpoint(eager=True)
    return merges


def _bpe_train_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], list[str] | None]:
    """One-corpus-pass BPE training plus the vocabulary that pass
    already paid for.  Returns (merges, vocab): merges in rank order
    as (rank, left, right, pair_freq); vocab is the distinct word
    list when the driver path ran, None on the distributed path
    (where the dictionary never visits the driver).

    Optimization (guide §1.2 step 1 — don't compute things
    twice; §2.4 — remove shuffles): the word dictionary is fetched in
    ONE job — ``limit(MAX + 1).collect()`` both decides the
    driver-vs-distributed path and, on the driver path, delivers the
    entire dictionary — replacing the eager-checkpoint + count +
    collect triple (two scheduling round-trips saved per training
    call; three registered queries train).  Returning the vocab lets
    b160/b176 skip their corpus-wide DISTINCT: the training groupBy
    already reduced the corpus to its vocabulary, so re-deriving it
    was a second full corpus pass + shuffle.  The rare distributed
    path re-runs the word-count groupBy once for its checkpoint —
    the right trade, since that path exists for dictionaries whose
    collect would not fit at all."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        # symbols: characters space-joined, with the </w> end marker
        .select(
            F.concat(
                F.array_join(F.split(F.col("w"), ""), " "), F.lit(" </w>")
            ).alias("sym"),
            "freq",
        )
    )
    head = words.limit(BPE_TRAIN_DRIVER_MAX + 1).collect()
    if len(head) <= BPE_TRAIN_DRIVER_MAX:
        dic = {r.sym: r.freq for r in head}
        # sym = chars-space-joined + " </w>" is injective in w (words
        # cannot contain ' '): dropping the separators and the one
        # trailing marker recovers w exactly, even for words that
        # themselves end in "</w>"
        vocab = [s.replace(" ", "")[: -len("</w>")] for s in dic]
        return _bpe_train_driver(dic), vocab
    return (
        _bpe_train_distributed(words.localCheckpoint(eager=True)),
        None,
    )


@query("b156_bpe_train")  # iterative argmax loop → not SQL-expressible;
# exact-equality pin vs a pure-Python reference BPE in tests/test_llmops.py
def b156_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units"): learn the first
    {BPE_MERGES} merges from the corpus by repeatedly merging the most
    frequent adjacent symbol pair.  Output: (merge_rank, left, right,
    pair_freq) — the merges.txt a tokenizer ships.

    The scale insight (and why this is feasible on 100 TB): BPE trains
    on the WORD-FREQUENCY DICTIONARY, not the raw text.  The corpus is
    touched exactly once (word-count groupBy, map-side combinable to
    vocabulary size); the merge loop then runs on the vocab-sized
    dictionary.  Under BPE_TRAIN_DRIVER_MAX entries the dictionary
    collects to the driver IN THE SAME JOB that computes it
    (_bpe_train_artifacts) and the loop is the sequential reference
    algorithm itself (a bounded driver hop — this is also how real
    tokenizer trainers run, and it removes 2·BPE_MERGES scheduling
    round-trips measured at ~0.2 s each); above it the identical loop
    runs distributed per round (_bpe_train_distributed, equivalence
    pinned).  Tie-break: (freq DESC, left ASC, right ASC) both
    paths."""
    merges, _ = _bpe_train_artifacts(spark, sf_dir)
    return local_frame(
        spark, merges, "merge_rank INT, left STRING, right STRING, pair_freq BIGINT"
    )


#: Merge-table size above which b160/b176 switch from the chained-
#: regexp_replace encoder to the linear-merge Arrow UDF (per-word
#: min-rank merge loop, cost bounded by the merges PRESENT in each
#: word, not the vocab size).  Both paths are pinned byte-identical
#: on the learned table in tests/test_llmops.py.
#:
#: Measurement moved this from 64 to 8: because encoding runs
#: over the DISTINCT vocabulary (the b160 plan), the UDF's Python cost
#: is vocab-bounded, while the regex chain pays a PLAN-COMPILE tax
#: superlinear in the table size on every query — measured apply-only
#: at sf0.1: 3.49 s for 20 chained regexes vs 0.69 s UDF (flat at 16x
#: data, so it's compile, not data), 15.0 s at 107 regexes.  The
#: codegen path only wins for micro tables where compile is
#: negligible; real ~50k-merge vocabs were always UDF territory.
BPE_APPLY_REGEX_MAX = 8


def bpe_encode_expr(word_col: F.Column, merges: list[tuple[str, str]]) -> F.Column:
    """Codegen encoder: compile the merge table into chained
    regexp_replace expressions over the space-joined symbol string.
    Java regex's leftmost non-overlapping replacement is exactly
    reference BPE's greedy-left merge, so replaying the table in rank
    order reproduces the sequential encoder bit-for-bit."""
    import re as _re

    col = F.concat(
        F.array_join(F.split(word_col, ""), " "), F.lit(" </w>")
    )
    for left, right in merges:
        pat = (
            r"(?<!\S)" + _re.escape(left) + " " + _re.escape(right) + r"(?!\S)"
        )
        col = F.regexp_replace(col, pat, left + right)
    return col


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Real-vocab encoder: an Arrow-batched pandas UDF running the
    standard linear-merge loop (HF/GPT-2 shape) — per word, repeatedly
    merge the LOWEST-RANK adjacent pair present, leftmost
    non-overlapping.  For a self-consistent merge table (one produced
    by BPE training, like b156's) this is provably identical to
    rank-order replay: a merge at rank k can only create pairs whose
    tokens first exist at rank k, so any pair involving them has rank
    > k and the min-rank schedule never revisits passed ranks.  Cost
    per word is O(|word| · merges-present), independent of vocab size
    — this is why 50k-merge vocabs need this path, not a 50k-deep
    regexp chain.  A per-batch word cache exploits Zipf repetition."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("string")
    def enc(words: pd.Series) -> pd.Series:
        cache: dict[str, str] = {}

        def one(w: str) -> str:
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w) + ["</w>"]
            while len(syms) > 1:
                best, best_rank = None, None
                for a, b in zip(syms, syms[1:]):
                    r = ranks.get((a, b))
                    if r is not None and (best_rank is None or r < best_rank):
                        best, best_rank = (a, b), r
                if best is None:
                    break
                left, right = best
                out, j = [], 0
                while j < len(syms):
                    if (
                        j < len(syms) - 1
                        and syms[j] == left
                        and syms[j + 1] == right
                    ):
                        out.append(left + right)
                        j += 2
                    else:
                        out.append(syms[j])
                        j += 1
                syms = out
            res = " ".join(syms)
            cache[w] = res
            return res

        return words.map(one)

    return enc


@query("b160_bpe_apply")  # consumes b156's learned merges → rows-only;
# encode ≡ sequential reference encode pinned in tests/test_llmops.py
def b160_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding with the merge table b156 learned — the apply half
    of the tokenizer pair: every document's words are split to
    characters(+</w>) and the {BPE_MERGES} merges replay IN RANK ORDER;
    output is per-document token statistics (token count before/after,
    compression ppm).

    Engine shape: the merge table is tiny and the ENCODER IS DATA.
    Micro tables (≤ BPE_APPLY_REGEX_MAX merges) compile into chained
    regexp_replace expressions over the word-symbol column — one
    narrow whole-stage-codegen pass.  Everything else — including the
    learned 20-merge demo table — takes bpe_encode_udf, the
    Arrow-batched linear-merge loop whose per-word cost tracks the
    merges PRESENT, not the vocab size; since encoding runs over the
    DISTINCT vocabulary, its Python cost is vocab-bounded while the
    regex chain pays a plan-compile tax superlinear in the table on
    every query (see BPE_APPLY_REGEX_MAX for the numbers).
    Both encoders share greedy-left semantics with training (and with
    the sequential reference), and are pinned byte-identical per word
    on the learned table
    (tests/test_llmops.py::test_bpe_apply_udf_path_matches_codegen),
    so the threshold is a pure execution-strategy knob — the plan
    stays corpus-narrow either way.

    Optimization (guide §2.4): the distinct vocabulary now
    comes from the TRAINING pass (_bpe_train_artifacts — its
    word-count groupBy already reduced the corpus to the vocabulary
    and collected it on the driver path), so the corpus-wide
    ``distinct()`` this query used to run — a second full corpus
    explode + shuffle — is gone; the vocab re-enters as a
    createDataFrame the size of the vocabulary.  The corpus is now
    exploded exactly twice per query (train + instance stream)
    instead of three times."""
    merges4, vocab = _bpe_train_artifacts(spark, sf_dir)
    merges = [(le, r) for _, le, r, _ in merges4]
    d = table(spark, sf_dir, "documents")
    words = lift_parallelism(d, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    sym = F.concat(F.array_join(F.split(F.col("w"), ""), " "), F.lit(" </w>"))
    encoded = _bpe_encoder(merges)
    # Encode the DISTINCT vocabulary, not every word instance: word
    # frequencies are Zipf, so the merge-chain work (the expensive
    # expression) runs |vocab| times instead of |corpus words| times
    # (measured 270k instances / 31 distinct at sf0.1).  The encoded
    # vocab joins back into the instance stream — AQE broadcasts it
    # when small and falls back to a hash join for multi-million-word
    # vocabularies; either way the corpus side is one narrow join +
    # one map-side-combined per-doc aggregate.
    vocab_src = (
        local_frame(spark, [(w,) for w in vocab], "w string")
        if vocab is not None
        else words.select("w").distinct()
    )
    vocab_enc = vocab_src.select(
        "w",
        F.size(F.split(sym, " ")).cast("bigint").alias("n_chars_sym"),
        F.size(F.split(encoded, " ")).cast("bigint").alias("n_tokens"),
    )
    enc = words.join(vocab_enc, "w")
    return enc.groupBy("doc_id").agg(
        F.sum("n_chars_sym").alias("symbols_before"),
        F.sum("n_tokens").alias("tokens_after"),
        F.expr(
            "CAST((1000000 * sum(n_tokens)) div sum(n_chars_sym) AS BIGINT)"
        ).alias("compression_ppm"),
    )


def _bpe_encoder(merges: list[tuple[str, str]]) -> F.Column:
    """Threshold dispatch shared by b160/b176: chained-regexp codegen
    for micro tables, the vocab-bounded Arrow UDF otherwise (see
    BPE_APPLY_REGEX_MAX for the measured crossover)."""
    if len(merges) <= BPE_APPLY_REGEX_MAX:
        return bpe_encode_expr(F.col("w"), merges)
    return bpe_encode_udf(merges)(F.col("w"))


def bpe_decode_expr(encoded: F.Column) -> F.Column:
    """Codegen decoder for one encoded word: drop the literal-space
    token separators (symbol concatenation is merge-invariant, and
    words — produced by splitting on ' ' — cannot contain one; other
    whitespace like tabs must survive), then strip the single trailing
    </w> end-of-word marker.  Inverse of bpe_encode_expr/_udf for ANY
    merge table."""
    return F.regexp_replace(F.regexp_replace(encoded, " ", ""), r"</w>$", "")


@query(
    "b176_bpe_decode",
    oracle="""
    SELECT doc_id,
           -- COALESCE: DuckDB's array_to_string is NULL (not '') on
           -- the empty list an all-spaces/empty document produces
           COALESCE(array_to_string(list_filter(string_split(text, ' '),
                                                w -> w <> ''), ' '),
                    '') AS decoded_text,
           -- COALESCE n_words too: string_split(NULL) makes len() NULL
           -- while the Spark side's left-join coalesce yields 0
           COALESCE(CAST(len(list_filter(string_split(text, ' '),
                                         w -> w <> '')) AS BIGINT),
                    0) AS n_words
    FROM documents
    """,
)
def b176_bpe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer DECODE / round-trip — the half that completes the
    b156 (train) / b160 (encode) pair: every document is encoded with
    the learned merge table, then decoded back (token concatenation +
    </w> → word boundary) and reassembled in word order.  BPE merging
    never changes a word's symbol concatenation, so decode∘encode is
    the identity on the space-normalized text — which is what makes
    this EXACT-oracle-able: the oracle computes the normalized text
    straight from the corpus with no BPE at all, and the hash match
    proves the round-trip identity end to end (the whole point of a
    lossless tokenizer).  Output: (doc_id, decoded_text, n_words),
    one row per document — empty documents round-trip to ''.

    Engine shape (b160's): encode+decode run over the DISTINCT word
    vocabulary (Zipf: |vocab| ≪ |word instances|) and join back into
    the position-tagged instance stream; reassembly is one per-doc
    sort_array(collect_list(struct(pos, word))) — bounded by document
    length, the same per-doc state every detokenizer needs.  The
    corpus is read once; the only shuffles are the join back
    (AQE-broadcast for real vocabs) and the per-doc aggregate.

    Optimization (guide §2.4, the b160 move): the distinct
    vocabulary comes from the training pass's already-collected
    dictionary (_bpe_train_artifacts) instead of a second corpus-wide
    explode + distinct shuffle."""
    merges4, vocab_list = _bpe_train_artifacts(spark, sf_dir)
    merges = [(le, r) for _, le, r, _ in merges4]
    d = table(spark, sf_dir, "documents")
    words = (
        lift_parallelism(d, "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    vocab_src = (
        local_frame(spark, [(w,) for w in vocab_list], "w string")
        if vocab_list is not None
        else words.select("w").distinct()
    )
    vocab = vocab_src.select(
        "w", bpe_decode_expr(_bpe_encoder(merges)).alias("dw")
    )
    assembled = (
        words.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "dw"))),
                    lambda s: s["dw"],
                ),
                " ",
            ).alias("decoded_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
        )
    )
    return d.select("doc_id").join(assembled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("decoded_text", F.lit("")).alias("decoded_text"),
        F.coalesce("n_words", F.lit(0).cast("bigint")).alias("n_words"),
    )
