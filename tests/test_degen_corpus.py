"""Gated degenerate-content sweep (VERDICT r7 item 3).

Round 7 ran tests/degen_corpus.py manually and caught b80's ANSI-cast
crash on digitless props — a guarantee that could silently rot as a
script.  This test rebuilds the planted corpus (empty/1-token/unicode/
identical documents, same-timestamp events, zero values, single-row
event types, digitless props, duplicate embeddings) and runs a CURATED
SAMPLE of the registry against it every suite run:

- the 13 rounding-predicate queries (z-score/MAD outliers, grouped
  trend, Kaplan-Meier, PMI, BM25, perplexity gate, A/B test, DSIR,
  source novelty, SemDeDup, kNN vote, MaxSim) — the family where a
  degenerate group flips an integer decision predicate,
- the known crash classes (b80 digitless props, b161 short docs — both
  pinned red-before-fix in round 7),
- hostile-content representatives of the text/dedup family, and the
  BPE round-trip (unicode + empty docs hit the tokenizer directly),
- rows-only executes for the codebook/IVF family (duplicate embeddings
  stress the deterministic tie-breaks).

Oracled entries get FULL DuckDB parity on the degenerate corpus, not
just no-crash.  The exhaustive 245-query sweep stays a manual verify
step (~8 min, .claude/skills/verify); this sample keeps the two round-7
verification dimensions from rotting between manual runs.
"""

from __future__ import annotations

import pytest

from etl_wildweb_spark import registry

from .degen_corpus import build
from .oracle_utils import compare

registry.load_all()

#: the 13 rounding-predicate queries from the round-7 sf0.1 sweep
ROUNDING_PREDICATE = [
    "b104_zscore_outliers",
    "b147_mad_outliers",
    "b163_grouped_trend",
    "b171_kaplan_meier",
    "b158_pmi_assoc",
    "b150_bm25_rank",
    "b155_perplexity_filter",
    "b164_ab_test",
    "b151_dsir_weights",
    "b161_source_novelty",
    "b149_semdedup",
    "b172_knn_label_vote",
    "b162_maxsim_late_interaction",
]

#: queries whose round-7 degenerate-sweep failure (or near-miss family)
#: this sample exists to keep pinned
CRASH_CLASSES = ["b80_attribution"]

#: hostile-content representatives: empty/unicode/identical docs flow
#: through tokenization, shingling, line-splitting, n-gram LMs, and the
#: decode round-trip
HOSTILE_TEXT = [
    "b31_text_stats",
    "b31_lang_stats",
    "b29_minhash_near_dedup",
    "b69_line_dedup",
    "b42_bigram_lm",
    "b176_bpe_decode",
    # round-9 addition: hashed-n-gram features over empty/unicode/
    # identical docs hit the gram explode + md5 bucketing directly
    "b178_quality_classifier",
]

#: same-timestamp events are b177's hostile shape (interval boundary
#: p_ts BETWEEN v_ts AND v_ts+6h with p_ts == v_ts, planted rows
#: 90000-90002)
HOSTILE_EVENTS = ["b177_stream_semi_join"]

PARITY = ROUNDING_PREDICATE + CRASH_CLASSES + HOSTILE_TEXT + HOSTILE_EVENTS

#: rows-only executes: the tokenizer pair on empty/unicode words, the
#: PQ/IVF family on duplicate embeddings (tie-break stress)
#: per-query minimal expected shape on the degenerate corpus: a bare
#: ``count() >= 0`` is vacuously true for any successful count, so a
#: regression that EMPTIES the output (e.g. the planted duplicate /
#: negated embeddings all filtered away) would pass silently (ADVICE
#: round 9).  min_rows values are structural, not corpus-tuned: BPE
#: train always finds ≥1 merge on repeated text, apply/encode emit one
#: row per doc/vector, search emits top-k per query.
ROWS_ONLY_EXEC = {
    "b156_bpe_train": (1, {"merge_rank", "left", "right", "pair_freq"}),
    "b160_bpe_apply": (
        1,
        {"doc_id", "symbols_before", "tokens_after", "compression_ppm"},
    ),
    "b134_pq_encode": (1, {"vec_id", "packed_codes", "recon_err"}),
    "b175_ivfpq_search": (1, {"query_id", "neighbor_id", "adist", "rnk"}),
    # one row per non-empty micro-batch: the degen corpus plants its
    # events at 2024-06-01 atop a January base, so the (hi-lo)/4 time
    # quarters leave the middle two slices EMPTY — 2 batches (base
    # slice + planted-max slice) is the structural minimum here, and
    # the planted same-timestamp events stress the slice-boundary and
    # window-end arithmetic
    "b179_stream_late_audit": (
        2,
        {
            "batch_id",
            "input_rows",
            "first_event_ts",
            "last_event_ts",
            "watermark",
            "late_windows_dropped",
            "windows_emitted",
            "state_windows",
        },
    ),
}


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory) -> str:
    return build(str(tmp_path_factory.mktemp("degen")))


@pytest.mark.parametrize("name", PARITY)
def test_degen_oracle_parity(spark, degen_dir, name):
    assert name in registry.ORACLES, f"{name} lost its oracle"
    compare(spark, degen_dir, name, registry.QUERIES[name], registry.ORACLES[name])


@pytest.mark.parametrize("name", sorted(ROWS_ONLY_EXEC))
def test_degen_rows_only_executes(spark, degen_dir, name):
    min_rows, cols = ROWS_ONLY_EXEC[name]
    df = registry.QUERIES[name](spark, degen_dir)
    assert set(df.columns) == cols, df.columns
    n = df.count()
    assert n >= min_rows, f"{name}: {n} rows < expected {min_rows}"
