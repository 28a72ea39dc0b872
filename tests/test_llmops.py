"""Planted-ground-truth tests for the LLM-data operators (FIXTURES.md §B4).

The approximate operators (MinHash LSH, SimHash, hyperplane ANN,
langid) have no SQL oracle, so correctness is asserted on synthetic
fixtures with known duplicates/neighbors — recall thresholds per
SURVEY.md §7.3.4.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from etl_wildweb_spark import registry
from etl_wildweb_spark.operators import dedup
from etl_wildweb_spark.operators.text import langid_udf

registry.load_all()

# 160-word vocabulary so random documents genuinely differ (the corpus
# tables use a ~30-word vocab, too small for fingerprint separation).
VOCAB = [
    f"{w}{i}"
    for i in range(10)
    for w in (
        "spark", "query", "table", "row", "filter", "join", "window", "hash",
        "sort", "batch", "stream", "merge", "scan", "agg", "column", "value",
    )
]


def make_doc(rng: random.Random, n: int = 60) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def mutate(rng: random.Random, text: str, n_edits: int = 1) -> str:
    toks = text.split(" ")
    for _ in range(n_edits):
        toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
    return " ".join(toks)


@pytest.fixture(scope="module")
def planted_docs(spark):
    rng = random.Random(42)
    rows = []
    for i in range(100):
        rows.append((i, make_doc(rng)))
    # plant 10 near-dup pairs: doc 100+i is a light mutation of doc i
    for i in range(10):
        rows.append((100 + i, mutate(rng, rows[i][1])))
    # plant 3 exact dups of doc 20
    for j, i in enumerate(range(3)):
        rows.append((200 + j, rows[20][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_pairs(planted_docs):
    verified = dedup.minhash_pairs(planted_docs)
    pairs = {(r.id_a, r.id_b) for r in verified.collect()}
    # every planted near-dup pair recovered (shingle jaccard of a 1-edit
    # mutation of 60 tokens is ≥ ~0.9)
    for i in range(10):
        assert (i, 100 + i) in pairs, f"missing planted pair {(i, 100+i)}"
    # exact dups recovered too
    assert (20, 200) in pairs and (20, 201) in pairs
    # no false positives below threshold survive the verify stage
    for r in verified.collect():
        assert r.jaccard >= 0.8


def test_minhash_no_false_negatives_vs_bruteforce(planted_docs):
    # LSH candidates ∪ verify == brute force at the threshold
    sh = planted_docs.select("doc_id", dedup.shingles(F.col("text")).alias("s"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "j",
            F.size(F.array_intersect("sa", "sb")).cast("double")
            / F.size(F.array_union("sa", "sb")),
        )
        .filter(F.col("j") >= 0.8)
    )
    brute_pairs = {(r.id_a, r.id_b) for r in brute.collect()}
    lsh_pairs = {(r.id_a, r.id_b) for r in dedup.minhash_pairs(planted_docs).collect()}
    assert lsh_pairs == brute_pairs


def test_simhash_hamming_small_for_near_dups(spark, planted_docs, sf_dir):
    planted_docs.createOrReplaceTempView("_simhash_in")
    sh = spark.sql(
        """
        SELECT doc_id,
        aggregate(
          zip_with(
            transform(sequence(0, 63), i ->
              CASE WHEN aggregate(transform(split(text, ' '), t -> xxhash64(t)),
                                  0L, (acc, h) -> acc + (shiftright(h, i) & 1L)) * 2
                        >= size(split(text, ' '))
                   THEN 1L ELSE 0L END),
            sequence(0, 63), (b, i) -> shiftleft(b, i)),
          0L, (acc, x) -> acc | x) AS simhash
        FROM _simhash_in
        """
    )
    hashes = {r.doc_id: r.simhash for r in sh.collect()}

    def hamming(x: int, y: int) -> int:
        return bin((x ^ y) & (2**64 - 1)).count("1")

    near = [hamming(hashes[i], hashes[100 + i]) for i in range(10)]
    rng = random.Random(7)
    far = [
        hamming(hashes[a], hashes[b])
        for a, b in [(rng.randrange(100), rng.randrange(100)) for _ in range(30)]
        if a != b
    ]
    assert max(near) < min(far), (near, far)


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    from etl_wildweb_spark.registry import QUERIES

    exact = QUERIES["b30_cosine_topk"](spark, sf_dir)
    approx = QUERIES["b30_ann_lsh"](spark, sf_dir)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # random-gaussian embeddings are the LSH worst case (no cluster
    # structure, top-10 cosines only ~0.3-0.5); 8 tables × 8 bits with
    # 1-bit multiprobe still must beat random-candidate recall by a wide
    # margin.  On clustered real-world embeddings recall is far higher.
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    from etl_wildweb_spark.registry import QUERIES

    exact = QUERIES["b30_cosine_topk"](spark, sf_dir)
    approx = QUERIES["b30_ann_ivf"](spark, sf_dir)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # every query must return a full (approximate) top-k
    assert all(len(s) == 10 for s in approx_sets.values()), approx_sets
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # 4-of-16 probed cells on unclustered gaussian vectors (IVF's worst
    # case); must clearly beat the 25%-random-scan baseline
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_langid_on_multilingual_fixtures(spark):
    # the corpus 'lang' column is random metadata over identical
    # English-ish text (verified), so accuracy is asserted on real
    # multilingual sentences instead; None/''/markerless rows pin the
    # 'und' fallback and the expr path's NULL normalization
    rows = [
        (1, "the quick brown fox is jumping over the lazy dog in the morning", "en"),
        (2, "los datos que llegan a la tabla son los valores de los clientes", "es"),
        (3, "les résultats de la requête sont dans les tables de la base", "fr"),
        (4, "der schnelle braune fuchs springt über einen faulen hund im wald", "de"),
        (5, "数据表的行和列在查询中被过滤和排序", "zh"),
        (6, None, "und"),
        (7, "", "und"),
        (8, "xyz qrs 123", "und"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r.pred for r in df.select(
        "doc_id", langid_udf(F.col("text")).alias("pred")).collect()}
    expected = {r[0]: r[2] for r in rows}
    acc = sum(out[k] == expected[k] for k in expected) / len(expected)
    assert acc >= 0.8, (out, expected)
    assert out[6] == out[7] == out[8] == "und", out


def test_langid_expr_equals_udf_twin(spark, sf_dir):
    """The registered b31_langid (pure JVM expression, exact-oracled
    since round 12) must agree EXACTLY with the Arrow-batched reference
    twin on every corpus row and on tie-dense fixtures — the expression
    is a transcription of the UDF's scoring rule (non-overlapping
    marker counts, strict-argmax over dict order, 'und' at zero), so
    any divergence is a transcription bug, not model noise."""
    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators import text as tmod
    from etl_wildweb_spark.registry import QUERIES

    # corpus sweep
    got = {
        r.doc_id: r.lang_pred for r in QUERIES["b31_langid"](spark, sf_dir).collect()
    }
    d = table(spark, sf_dir, "documents")
    ref = {
        r.doc_id: r.p
        for r in d.select("doc_id", langid_udf(F.col("text")).alias("p")).collect()
    }
    assert got == ref
    # tie-dense plants: equal max scores must resolve by dict order on
    # both paths ("the de" ties en/es/fr at 1; "ión der" ties es/de)
    rows = [
        (1, "the de"),
        (2, "ión der"),
        (3, "que cht"),
        (4, "the the  de  de"),
        (5, None),
        (6, "的 les"),
    ]
    fdf = spark.createDataFrame(rows, "doc_id long, text string")
    scored = fdf.withColumn("_t", F.coalesce(F.col("text"), F.lit(""))).select(
        "doc_id",
        *[
            F.expr(tmod._langid_score_sql("_t", m, "div")).alias(f"s_{lang}")
            for lang, m in tmod._LANG_MARKERS.items()
        ],
    )
    expr_pred = {
        r.doc_id: r.p
        for r in scored.withColumn("_m", F.expr(tmod._LANGID_MAX_SQL))
        .select("doc_id", F.expr(tmod._LANGID_CASE_SQL).alias("p"))
        .collect()
    }
    udf_pred = {
        r.doc_id: r.p
        for r in fdf.select("doc_id", langid_udf(F.col("text")).alias("p")).collect()
    }
    assert expr_pred == udf_pred, (expr_pred, udf_pred)


def test_fake_decode_deterministic(spark, sf_dir):
    from etl_wildweb_spark.operators.multimodal import b32_fake_decode

    out = {r.doc_id: r for r in b32_fake_decode(spark, sf_dir).collect()}
    from etl_wildweb_spark.io import table

    docs = {r.doc_id: r.text for r in table(spark, sf_dir, "documents").collect()}
    for doc_id, text in list(docs.items())[:20]:
        b = text.encode("utf-8")
        r = out[doc_id]
        assert r.width == len(b) % 640
        assert r.feat_len == float(len(b))
        assert r.feat_first == float(b[0])
        assert r.feat_last == float(b[-1])
        assert r.feat_sum8 == float(sum(b[:8]))


def test_ppm_decode_byte_exact(spark, sf_dir):
    """b32_ppm_decode is REAL pixel math: the Spark two-stage
    encode→decode pipeline must agree byte-exactly with a pure-Python
    replay (build the same P6 bytes, parse them back, sum channels) —
    for EVERY document, not a sample."""
    import numpy as np

    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators.multimodal import (
        make_ppm_bytes,
        parse_ppm,
    )
    from etl_wildweb_spark.registry import QUERIES

    out = {
        r.doc_id: r for r in QUERIES["b32_ppm_decode"](spark, sf_dir).collect()
    }
    docs = {r.doc_id: r.text for r in table(spark, sf_dir, "documents").collect()}
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        w, h, raster = parse_ppm(make_ppm_bytes(doc_id, text))
        sums = raster.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        r = out[doc_id]
        assert (r.width, r.height, r.n_px) == (w, h, w * h)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(int(s) for s in sums)


def test_ppm_parser_rejects_malformed():
    """The decoder is a real parser: bad magic, truncated header, and
    truncated raster all fail loudly (silent garbage pixels are how
    multimodal corpora rot)."""
    import pytest as _pytest

    from etl_wildweb_spark.operators.multimodal import (
        make_ppm_bytes,
        parse_ppm,
    )

    good = make_ppm_bytes(7, "hello world")
    w, h, raster = parse_ppm(good)
    assert raster.shape == (h, w, 3)
    with _pytest.raises(ValueError):
        parse_ppm(b"P5" + good[2:])
    with _pytest.raises(ValueError):
        parse_ppm(good[:4])
    with _pytest.raises(ValueError):
        parse_ppm(good[:-1])


def test_exact_dedup_planted(spark, planted_docs):
    groups = (
        planted_docs.groupBy("text")
        .agg(F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert len(groups) == 1
    assert groups[0].keep == 20 and groups[0].n == 4


def test_with_shingles_equals_column_form(spark, sf_dir):
    # the NGram-based fast path must stay semantically identical to the
    # reference column expression (and thus to SQL_SHINGLES)
    from etl_wildweb_spark.io import table

    d = table(spark, sf_dir, "documents")
    a = {
        (r.doc_id, tuple(sorted(r.s)))
        for r in dedup.with_shingles(d).select("doc_id", "s").collect()
    }
    b = {
        (r.doc_id, tuple(sorted(r.s)))
        for r in d.select(
            "doc_id", dedup.shingles(F.col("text")).alias("s")
        ).collect()
    }
    assert a == b


def test_ann_observed_recall_metric(spark, sf_dir):
    """ADVICE round 1 #9: the ANN paths carry recall as a df.observe
    metric riding the real query — assert the observed value meets the
    same thresholds the offline tests enforce."""
    from etl_wildweb_spark.operators.similarity import ann_with_recall

    for kind in ("lsh", "ivf"):
        df, obs = ann_with_recall(spark, sf_dir, kind)
        n_rows = df.count()  # any action completes the observation
        got = obs.get
        assert got["n_ann_rows"] == n_rows
        assert got["recall_at_10"] >= 0.4, (kind, got)


# ------------------------------------------------ b109 Misra-Gries


def test_misra_gries_superset_guarantee_under_eviction(spark):
    """The b109 sketch pass must retain every true heavy hitter even
    when the counter capacity forces evictions: a planted stream with
    600 distinct rare tokens (≫ MG_CAP=400) plus 3 hot tokens at ~10%
    each must still surface all 3 — the pigeonhole/undercount bound
    the operator's exactness rests on."""
    import random

    from etl_wildweb_spark.operators import mining

    rng = random.Random(7)
    stream = []
    for i in range(600):
        stream += [f"rare{i}"] * rng.randint(1, 3)
    for hot in ("hotA", "hotB", "hotC"):
        stream += [hot] * 130  # ~10% each of ~1300 rare tokens
    rng.shuffle(stream)
    docs = spark.createDataFrame(
        [(i, " ".join(stream[i::8])) for i in range(8)],
        "doc_id long, text string",
    )

    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    # run the same partial-summary pass the operator uses
    import pandas as pd

    def mg(batches):
        counters = {}
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > mining.MG_CAP:
                cut = sorted(counters.values(), reverse=True)[mining.MG_CAP]
                counters = {t: v - cut for t, v in counters.items() if v > cut}
        yield pd.DataFrame({"token": list(counters)})

    cands = {
        r.token
        for r in toks.repartition(2).mapInPandas(mg, "token string").collect()
    }
    assert {"hotA", "hotB", "hotC"} <= cands
    # and eviction actually happened (candidates ≪ distinct tokens)
    assert len(cands) < 603


def test_ppm_resize_byte_exact(spark, sf_dir):
    """b32_ppm_resize emits REAL resized P6 bytes: a pure-Python replay
    of the same nearest-neighbor kernel must reproduce the Spark
    output's bytes EXACTLY, for every document — and the resized bytes
    must re-parse as valid P6 at the claimed dimensions."""
    import numpy as np

    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators.multimodal import (
        make_ppm_bytes,
        parse_ppm,
    )
    from etl_wildweb_spark.registry import QUERIES

    out = {
        r.doc_id: r for r in QUERIES["b32_ppm_resize"](spark, sf_dir).collect()
    }
    docs = {r.doc_id: r.text for r in table(spark, sf_dir, "documents").collect()}
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        w, h, raster = parse_ppm(make_ppm_bytes(doc_id, text))
        dw, dh = max(1, w // 2), max(1, h // 2)
        ys = (np.arange(dh) * h) // dh
        xs = (np.arange(dw) * w) // dw
        want = raster[ys][:, xs]
        want_bytes = f"P6\n{dw} {dh}\n255\n".encode() + want.tobytes()
        r = out[doc_id]
        assert (r.src_w, r.src_h, r.dst_w, r.dst_h) == (w, h, dw, dh)
        assert bytes(r.out_ppm) == want_bytes
        # round-trip: the emitted bytes are themselves valid P6
        w2, h2, back = parse_ppm(bytes(r.out_ppm))
        assert (w2, h2) == (dw, dh)
        sums = back.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(int(s) for s in sums)

def test_repetition_arrow_path_equals_catalyst_twin(spark, sf_dir):
    """The Arrow-batched repetition statistics must be IEEE-identical
    (pre-rounding) to the original Catalyst sequence/transform/aggregate
    fold (`_word_grams`/`_top_run`) on the full corpus — the proof that
    the 15-25x mapInPandas speedup changed the execution path, not the
    semantics."""
    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators.text import (
        _top_run,
        _word_grams,
        repetition_batches,
    )

    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    n_nonspace = F.length(F.replace("text", F.lit(" "), F.lit("")))
    top2 = _top_run(F.array_sort(_word_grams(toks, n_words, 2)))
    g5 = _word_grams(toks, n_words, 5)
    n5, d5 = F.size(g5), F.size(F.array_distinct(g5))
    catalyst = {
        r.doc_id: (r.a, r.b, r.c)
        for r in d.select(
            "doc_id",
            (F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n_words)
            .alias("a"),
            F.coalesce(
                (
                    top2["best"]
                    * F.length(F.replace(top2["bestg"], F.lit(" "), F.lit("")))
                ).cast("double")
                / n_nonspace,
                F.lit(0.0),
            ).alias("b"),
            F.when(n5 > 0, F.lit(1.0) - d5.cast("double") / n5)
            .otherwise(0.0)
            .alias("c"),
        ).collect()
    }
    arrow = {
        r.doc_id: (r.raw_dup_word, r.raw_top2, r.raw_dup5)
        for r in d.select("doc_id", "text")
        .mapInPandas(
            repetition_batches,
            schema="doc_id bigint, raw_dup_word double, "
            "raw_top2 double, raw_dup5 double",
        )
        .collect()
    }
    assert arrow == catalyst  # exact double equality, no tolerance

def test_repetition_all_space_doc_yields_zero(spark):
    """Edge case the corpus never exercises (ADVICE r4): a doc that is
    ALL spaces has >=2 (empty) tokens but zero non-space chars.  The
    Catalyst twin's Divide yields NULL there and coalesces to 0.0; the
    Arrow path must return the same 0.0, not inf/NaN."""
    import pandas as pd

    from etl_wildweb_spark.operators.text import repetition_batches

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["   ", " ", "a a a"]}
    )
    [out] = list(repetition_batches(iter([pdf])))
    by_id = dict(zip(out["doc_id"], out["raw_top2"]))
    assert by_id[1] == 0.0  # all-space, n>=2 tokens, nonspace==0
    assert by_id[2] == 0.0  # two empty tokens
    # sanity, normal doc: top bigram "a a" occurs 2x, 2 non-space chars,
    # over 3 non-space chars in the doc -> 2*2/3
    assert by_id[3] == pytest.approx(4 / 3)

def test_minhash_pairs_equal_exact_prefix_filter(spark, sf_dir):
    """MinHash+LSH+verify and the exact prefix-filter join run over
    the SAME shingle space at the SAME threshold, so their outputs
    must be identical sets of pairs: any pair missed by minhash is a
    banding-recall regression, any pair missed by the exact side is a
    prefix-filter bug.  This cross-check caught a real one: the float
    prefix length floor((1-0.8)*|x|)+1 under-counted at |x| multiples
    of 5 and dropped a Jaccard-exactly-0.8 pair at sf0.1."""
    from etl_wildweb_spark import registry

    registry.load_all()
    mh = registry.QUERIES["b29_minhash_near_dedup"](spark, sf_dir)
    ex = registry.QUERIES["b29_ngram_jaccard"](spark, sf_dir)
    a = {(r.id_a, r.id_b) for r in mh.select("id_a", "id_b").collect()}
    b = {(r.id_a, r.id_b) for r in ex.select("id_a", "id_b").collect()}
    assert a == b, (sorted(b - a)[:5], sorted(a - b)[:5])
    assert a, "corpus should contain at least one near-dup pair"

def test_ngram_prefix_length_is_exact_integer_ceil():
    """The Jaccard prefix length |x| − ⌈t·|x|⌉ + 1 must be computed in
    exact arithmetic.  Pins the (4s+4)//5 form against a Fraction
    reference for every size up to 2000, and demonstrates the float
    form is genuinely wrong (not just stylistically) at t·|x| integral."""
    import math
    from fractions import Fraction

    from etl_wildweb_spark.operators.dedup import _T_DEN, _T_NUM

    bad = []
    for s in range(1, 2001):
        exact = s - math.ceil(Fraction(_T_NUM, _T_DEN) * s) + 1
        ours = s - (_T_NUM * s + _T_DEN - 1) // _T_DEN + 1
        assert ours == exact, s
        old_float = math.floor((1 - 0.8) * s) + 1
        if old_float != exact:
            bad.append(s)
    assert 10 in bad  # the sf0.1 boundary pair had |B| = 10

def test_simhash_arrow_path_equals_catalyst_twin(spark, sf_dir):
    """The hash-once + numpy simhash must equal the all-Catalyst
    nested-HOF fold bit-for-bit on the full corpus — the proof the 60x
    speedup changed only the execution path."""
    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators.dedup import SIMHASH_EXPR_TWIN

    d = table(spark, sf_dir, "documents")
    twin = {
        r.doc_id: r.simhash
        for r in d.select(
            "doc_id", F.expr(SIMHASH_EXPR_TWIN).alias("simhash")
        ).collect()
    }
    got = {
        r.doc_id: r.simhash
        for r in registry.QUERIES["b29_simhash"](spark, sf_dir).collect()
    }
    assert got == twin

def test_pq_encode_invariants(spark, sf_dir):
    """b134 rows-only proof: codes in range, bit-identical to a pure
    numpy replay of the same codebook, deterministic across runs, and
    reconstruction error never worse than always picking code 0 (the
    argmin property made observable).  The registered query packs the
    8 four-bit codes big-endian into one BIGINT (driver canonicalizer
    can't sort array cells) — unpack here to compare."""
    import numpy as np

    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators import similarity as S

    def unpack(packed):
        return tuple(
            (packed >> (4 * (S.PQ_SUBSPACES - 1 - s))) & 0xF
            for s in range(S.PQ_SUBSPACES)
        )

    e = table(spark, sf_dir, "embeddings")
    out1 = {r.vec_id: (unpack(r.packed_codes), r.recon_err)
            for r in S.b134_pq_encode(spark, sf_dir).collect()}
    out2 = {r.vec_id: (unpack(r.packed_codes), r.recon_err)
            for r in S.b134_pq_encode(spark, sf_dir).collect()}
    assert out1 == out2  # deterministic
    assert out1, "empty encode output"
    # pure-numpy reference from the same raw data
    cb = np.zeros((S.PQ_SUBSPACES, S.PQ_K, S.PQ_SUBDIM), dtype=np.float32)
    for r in S.pq_codebooks(e).collect():
        cb[r.sub, r.code] = np.asarray(r.centroid, dtype=np.float32)
    raw = {r.vec_id: np.asarray(r.embedding, dtype=np.float32)
           for r in e.select("vec_id", "embedding").collect()}
    for vid, (codes, err) in out1.items():
        vs = raw[vid].reshape(S.PQ_SUBSPACES, S.PQ_SUBDIM)
        d2 = ((vs[:, None, :] - cb) ** 2).sum(axis=2)
        ref_codes = tuple(int(c) for c in d2.argmin(axis=1))
        assert codes == ref_codes, vid
        assert all(0 <= c < S.PQ_K for c in codes)
        base = float(((vs - cb[:, 0, :]) ** 2).sum())
        assert err <= base + 1e-6, (vid, err, base)

def test_pq_adc_identity_and_recall(spark, sf_dir):
    """b137 invariants: (a) ADC IDENTITY — every reported approximate
    distance equals ||q − reconstruct(v)||² recomputed independently in
    numpy from the raw data (ADC is exact w.r.t. the quantized corpus;
    the only approximation is the quantization itself); (b) recall of
    ADC top-10 vs exact L2 top-10 clearly beats the random-scan
    baseline even on gaussian vectors with a 16-seed codebook."""
    import numpy as np

    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators import similarity as S

    e = table(spark, sf_dir, "embeddings")
    raw = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in e.select("vec_id", "embedding").collect()}
    cb = np.zeros((S.PQ_SUBSPACES, S.PQ_K, S.PQ_SUBDIM))
    for r in S.pq_codebooks(e).collect():
        cb[r.sub, r.code] = np.asarray(r.centroid, dtype=np.float32)

    def reconstruct(v):
        vs = v.astype(np.float32).reshape(S.PQ_SUBSPACES, S.PQ_SUBDIM)
        d2 = ((vs[:, None, :] - cb) ** 2).sum(axis=2)
        codes = d2.argmin(axis=1)
        return cb[np.arange(S.PQ_SUBSPACES), codes].reshape(-1)

    out = S.b137_pq_adc_search(spark, sf_dir).collect()
    assert out, "empty ADC output"
    for r in out:
        ref = float(((raw[r.query_id].reshape(S.PQ_SUBSPACES, S.PQ_SUBDIM)
                      - reconstruct(raw[r.neighbor_id]).reshape(
                          S.PQ_SUBSPACES, S.PQ_SUBDIM)) ** 2).sum())
        assert abs(r.adist - ref) < 1e-6, (r, ref)

    # recall vs exact L2
    ids = sorted(raw)
    mat = np.stack([raw[i] for i in ids])
    adc_sets, hits, total = {}, 0, 0
    for r in out:
        adc_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q in adc_sets:
        d = ((mat - raw[q]) ** 2).sum(axis=1)
        order = [ids[i] for i in np.argsort(d, kind="stable") if ids[i] != q]
        exact = set(order[:10])
        hits += len(exact & adc_sets[q]); total += 10
    recall = hits / total
    # random top-10 of 500 would score ~0.02; crude 16-seed PQ on
    # worst-case gaussian data must still land well above that
    assert recall >= 0.2, recall


def test_b139_substring_dedup_planted_spans(spark):
    """b139 boundary semantics on planted duplicates (k=4): an exactly-k
    shared span is excised from BOTH docs, a (k-1) shared span is KEPT,
    a longer shared span is removed in FULL (maximal extension via
    overlapping k-gram union), fully-duplicated docs empty out, and
    sub-k docs pass through untouched."""
    from etl_wildweb_spark.operators.text import substring_dedup

    docs = [
        (1, "a1 a2 a3 S1 S2 S3 S4 b1 b2"),   # k-span shared with 2
        (2, "c1 c2 S1 S2 S3 S4 c3"),
        (3, "d1 d2 P1 P2 P3 e1"),            # (k-1)-span shared with 4
        (4, "P1 P2 P3 f1 f2 g3"),
        (5, "X1 X2 X3 X4 X5"),               # exact full duplicates
        (6, "X1 X2 X3 X4 X5"),
        (7, "h1 h2"),                        # shorter than k
        (8, "q1 T1 T2 T3 T4 T5 T6 q2"),      # (k+2)-span shared with 9
        (9, "T1 T2 T3 T4 T5 T6 r1 r2 r3"),
    ]
    d = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in substring_dedup(d, k=4).collect()
    }
    assert out[1] == (9, 4, "a1 a2 a3 b1 b2")
    assert out[2] == (7, 4, "c1 c2 c3")
    assert out[3] == (6, 0, "d1 d2 P1 P2 P3 e1")      # below threshold
    assert out[4] == (6, 0, "P1 P2 P3 f1 f2 g3")
    assert out[5] == (5, 5, "")                        # fully excised
    assert out[6] == (5, 5, "")
    assert out[7] == (2, 0, "h1 h2")                   # sub-k untouched
    assert out[8] == (8, 6, "q1 q2")                   # maximal span
    assert out[9] == (9, 6, "r1 r2 r3")


def _exsub_replay(texts: dict[int, str], k: int) -> dict[int, tuple]:
    """Brute-force ExactSubstr replay: every k-char window, duplicated
    iff it occurs at >= 2 distinct (doc, pos) positions (same doc and
    overlapping included); covered positions excised."""
    from collections import Counter

    occ = Counter()
    for t in texts.values():
        for i in range(len(t) - k + 1):
            occ[t[i : i + k]] += 1
    out = {}
    for d, t in texts.items():
        cov = set()
        for i in range(len(t) - k + 1):
            if occ[t[i : i + k]] >= 2:
                cov.update(range(i, i + k))
        clean = "".join(c for j, c in enumerate(t) if j not in cov)
        out[d] = (len(t), len(cov), clean)
    return out


def test_b181_exact_substring_planted_spans(spark):
    """Suffix-array-quality boundary semantics on planted duplicates
    (k=4, char-level): an exactly-k cross-doc span is excised from
    both docs, a (k-1) span is kept, a longer span is removed in FULL;
    and the two deltas vs b139's cross-doc token rule are load-bearing
    — a span repeated twice WITHIN one document is excised, and an
    overlapping self-repeat ('aaaaaa') empties out because every
    window occurs at >= 2 distinct positions.  The whole fixture is
    also checked against a pure-Python brute-force replay."""
    from etl_wildweb_spark.operators.exact_substring import (
        exact_substring_dedup,
    )

    docs = {
        1: "xyzSPAN4uv",      # exactly-k span shared with 2
        2: "qSPAN4rst",
        3: "abWXYcd",         # (k-1) span shared with 4 — kept
        4: "WXYefgh",
        5: "mnDUPXdupzDUPXo",  # same-document repeat (b139-invisible)
        6: "aaaaaa",           # overlapping self-repeat — empties out
        7: "pq",               # shorter than k — untouched
        8: "12LONGSPAN634",    # (k+5)-span shared with 9 — maximal
        9: "LONGSPAN6zw",
    }
    d = spark.createDataFrame(
        sorted(docs.items()), "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["n_chars"], r["n_removed"], r["clean_text"])
        for r in exact_substring_dedup(d, k=4).collect()
    }
    assert out == _exsub_replay(docs, 4)
    # the hand-checked boundary rows, so a replay bug can't hide both
    assert out[1] == (10, 5, "xyzuv")         # SPAN4 excised
    assert out[3] == (7, 0, "abWXYcd")        # below threshold: kept
    assert out[5] == (15, 8, "mndupzo")       # SAME-DOC repeat excised
    assert out[6] == (6, 6, "")               # self-overlap empties out
    assert out[7] == (2, 0, "pq")             # sub-k untouched
    assert out[8] == (13, 9, "1234")          # maximal span, full width
    assert out[9] == (11, 9, "zw")


def test_b181_randomized_differential(spark):
    """Seeded randomized differential for the suffix-array semantics:
    small corpora over a 3-char alphabet (maximal duplicate / overlap /
    collision density — most 4-grams occur many times, docs repeat
    themselves, spans straddle doc boundaries in every combination),
    each corpus strict-compared to the brute-force Python replay.  The
    planted fixture pins the RULES; this pins their composition on
    adversarial data (the r10 randomized-differential pattern)."""
    import random

    from etl_wildweb_spark.operators.exact_substring import (
        exact_substring_dedup,
    )

    for seed in (3, 17, 42):
        rng = random.Random(seed)
        texts = {
            did: "".join(
                rng.choice("abc") for _ in range(rng.randrange(0, 26))
            )
            for did in range(1, 13)
        }
        d = spark.createDataFrame(
            sorted(texts.items()), "doc_id bigint, text string"
        )
        got = {
            r["doc_id"]: (r["n_chars"], r["n_removed"], r["clean_text"])
            for r in exact_substring_dedup(d, k=4).collect()
        }
        assert got == _exsub_replay(texts, 4), seed


def test_b181_rolling_phase1_equivalence(spark, sf_dir):
    """The O(n) Karp–Rabin phase-1 path (the 100 TB hashing claim,
    made real) produces IDENTICAL results to the default JVM xxhash64
    path — on the planted fixture, on a random 3-char-alphabet corpus,
    and on the sf corpus.  Also pins the rolling hash itself: every
    window hash equals the direct polynomial evaluation, so the
    prefix-product algebra (modular-inverse cumprod over Z/2^64) can't
    silently drift — a wrong hash would only cost phase-2 work, which
    is exactly why it needs its own pin."""
    import random

    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators.exact_substring import (
        _rolling_hash_stream,
        exact_substring_dedup,
    )

    # 1) hash identity vs direct polynomial evaluation
    B = 0x100000001B3
    txt = "abracadabra" * 3
    k = 5
    got = {
        (r["i"]): r["gh"]
        for r in _rolling_hash_stream(
            spark.createDataFrame([(1, txt)], "doc_id bigint, text string"), k
        ).collect()
    }
    for i in range(len(txt) - k + 1):
        want = 0
        for ch in txt[i : i + k]:
            want = (want * B + ord(ch)) % (1 << 64)
        want = want - (1 << 64) if want >= (1 << 63) else want
        assert got[i + 1] == want, i

    # 2) result equivalence on adversarial corpora — including a NULL
    # text row, which both paths must normalize to the (0, 0, '') row
    # (review find: the raw JVM length() filter silently dropped it
    # while the Arrow batch path raised on it)
    rng = random.Random(7)
    texts = {
        did: "".join(rng.choice("abc") for _ in range(rng.randrange(0, 26)))
        for did in range(1, 13)
    }
    null_corpus = spark.createDataFrame(
        sorted(texts.items()) + [(99, None)], "doc_id bigint, text string"
    )
    for corpus in (
        null_corpus,
        None,  # sf corpus below
    ):
        if corpus is None:
            corpus = table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            kk = 40
        else:
            kk = 4
        ref = {
            r["doc_id"]: (r["n_chars"], r["n_removed"], r["clean_text"])
            for r in exact_substring_dedup(corpus, k=kk).collect()
        }
        alt = {
            r["doc_id"]: (r["n_chars"], r["n_removed"], r["clean_text"])
            for r in exact_substring_dedup(
                corpus, k=kk, phase1="rolling"
            ).collect()
        }
        assert ref == alt
        if kk == 4:  # the random corpus carries the planted NULL row
            assert ref[99] == (0, 0, "")


def test_b144_no_near_dup_pair_straddles_splits(spark, sf_dir):
    """b144's whole point, pinned edge-by-edge: for EVERY exact n-gram
    Jaccard near-dup pair, both endpoints land in the same split; and
    the split remains disjoint+exhaustive over the corpus."""
    import pyspark.sql.functions as F

    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators.dedup import (
        b29_ngram_jaccard,
        connected_components,
    )
    from etl_wildweb_spark.operators.sampling import hash_bucket

    edges = b29_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components(edges).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    d = table(spark, sf_dir, "documents").select("doc_id")
    tagged = d.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    b = hash_bucket(F.col("cluster_id"), 100)
    split_of = {
        r["doc_id"]: r["split"]
        for r in tagged.withColumn(
            "split",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
        ).collect()
    }
    n_docs = d.count()
    assert len(split_of) == n_docs  # exhaustive, one split per doc
    pairs = edges.collect()
    assert pairs, "fixture must contain near-dup pairs"
    for r in pairs:
        assert split_of[r["id_a"]] == split_of[r["id_b"]], r


def test_b146_binaryfile_roundtrip_matches_inmemory_decode(spark, sf_dir):
    """b146: decoding real .ppm FILES through the binaryFile source
    yields byte-identical features to the in-memory encode→decode
    path for the same documents — the file round-trip adds nothing
    and loses nothing."""
    from etl_wildweb_spark import registry

    registry.load_all()
    got = {
        r["doc_id"]: tuple(r)
        for r in registry.QUERIES["b146_binaryfile_ingest"](
            spark, sf_dir
        ).collect()
    }
    want = {
        r["doc_id"]: tuple(r)
        for r in registry.QUERIES["b32_ppm_decode"](spark, sf_dir).collect()
        if r["doc_id"] < 200
    }
    assert got == want and len(got) == 200


def test_b154_jl_projection_preserves_distances(spark, sf_dir):
    """JL with a Rademacher matrix preserves squared distances in
    expectation: E[‖y_a − y_b‖²] = k·‖x_a − x_b‖² (k = 16 output
    dims, inputs in the same ppm units).  Check the per-pair ratio
    ‖Δy‖²/(k·‖Δx‖²) is centered near 1 — loose per-pair bounds (JL
    variance at k=16 is large) plus a tight bound on the mean."""
    from etl_wildweb_spark.io import table as _table
    from etl_wildweb_spark.operators.similarity import JL_OUT_DIMS

    proj = {
        r.vec_id: [r[f"y{j:02d}"] for j in range(JL_OUT_DIMS)]
        for r in registry.QUERIES["b154_jl_projection"](spark, sf_dir)
        .filter(F.col("vec_id") < 40)
        .collect()
    }
    orig = {
        r.vec_id: [round(x * 1_000_000) for x in r.embedding]
        for r in _table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 40)
        .collect()
    }
    ratios = []
    ids = sorted(proj)
    for a, b in zip(ids, ids[20:]):
        dx = sum((xa - xb) ** 2 for xa, xb in zip(orig[a], orig[b]))
        dy = sum((ya - yb) ** 2 for ya, yb in zip(proj[a], proj[b]))
        assert dx > 0
        ratios.append(dy / (JL_OUT_DIMS * dx))
    assert len(ratios) >= 20
    assert all(0.2 < r < 3.0 for r in ratios), ratios
    mean = sum(ratios) / len(ratios)
    assert 0.7 < mean < 1.4, mean


def test_b156_bpe_train_equals_reference_bpe(spark, sf_dir):
    """The distributed BPE trainer must learn EXACTLY the merge table
    of the sequential reference algorithm (Sennrich et al. 2016) run
    on the same word-frequency dictionary — same pairs, same order,
    same frequencies, same (freq DESC, left, right) tie-break."""
    import re
    from collections import Counter

    from etl_wildweb_spark.io import table as _table
    from etl_wildweb_spark.operators.text import BPE_MERGES

    got = sorted(
        (r.merge_rank, r.left, r.right, r.pair_freq)
        for r in registry.QUERIES["b156_bpe_train"](spark, sf_dir).collect()
    )

    running = Counter()
    for r in _table(spark, sf_dir, "documents").select("text").collect():
        for w in r.text.split(" "):
            if w:
                running[" ".join(list(w)) + " </w>"] += 1
    want = []
    for rank in range(BPE_MERGES):
        pairs: Counter = Counter()
        for sym, freq in running.items():
            toks = sym.split(" ")
            for a, b in zip(toks, toks[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        (left, right), pf = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((rank, left, right, pf))
        pat = re.compile(
            r"(?<!\S)" + re.escape(left) + " " + re.escape(right) + r"(?!\S)"
        )
        merged = Counter()
        for sym, freq in running.items():
            merged[pat.sub(left + right, sym)] += freq
        running = merged
    assert got == sorted(want), (got[:5], sorted(want)[:5])


def test_b160_bpe_apply_equals_reference_encode(spark, sf_dir):
    """Encoding with the learned merges must give the same per-word
    token sequence as the sequential reference encoder — checked at
    the per-document token-count level (count equality at every doc is
    equivalent to sequence equality for a fixed merge list applied
    with identical greedy-left semantics)."""
    import re
    from collections import Counter

    from etl_wildweb_spark.io import table as _table

    got = {
        r.doc_id: (r.symbols_before, r.tokens_after)
        for r in registry.QUERIES["b160_bpe_apply"](spark, sf_dir).collect()
    }
    merges = [
        (r.left, r.right)
        for r in registry.QUERIES["b156_bpe_train"](spark, sf_dir)
        .orderBy("merge_rank")
        .collect()
    ]
    pats = [
        (re.compile(r"(?<!\S)" + re.escape(a) + " " + re.escape(b) + r"(?!\S)"),
         a + b)
        for a, b in merges
    ]
    for r in _table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        before = after = 0
        for w in r.text.split(" "):
            if not w:
                continue
            sym = " ".join(list(w)) + " </w>"
            before += len(sym.split(" "))
            for pat, rep in pats:
                sym = pat.sub(rep, sym)
            after += len(sym.split(" "))
        assert got[r.doc_id] == (before, after), r.doc_id


def test_bpe_apply_udf_path_matches_codegen(spark, sf_dir):
    """The real-vocab encoder (linear-merge Arrow UDF, the path b160
    takes past BPE_APPLY_REGEX_MAX merges) must encode every distinct
    corpus word BYTE-IDENTICALLY to the chained-regexp codegen path on
    the learned merge table — the proof the threshold is a pure
    execution-strategy knob (VERDICT r6 item 4)."""
    from etl_wildweb_spark.io import table as _table
    from etl_wildweb_spark.operators import text as T

    merges = [
        (r.left, r.right)
        for r in T.b156_bpe_train(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert merges, "empty merge table"
    words = (
        _table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    both = words.select(
        "w",
        T.bpe_encode_expr(F.col("w"), merges).alias("cg"),
        T.bpe_encode_udf(merges)(F.col("w")).alias("py"),
    )
    diverged = both.filter(F.col("cg") != F.col("py"))
    assert diverged.count() == 0, diverged.limit(5).collect()
    # the threshold selects the UDF even for the 20-merge demo table
    # (round-8 measurement: the regex chain's plan-compile tax loses
    # to the vocab-bounded Arrow UDF at every table size ≥ ~10)
    assert len(merges) > T.BPE_APPLY_REGEX_MAX


def test_bpe_train_driver_path_matches_distributed(spark, sf_dir, monkeypatch):
    """b156's two merge-loop paths — the collected driver loop (the
    sequential reference algorithm, taken under BPE_TRAIN_DRIVER_MAX)
    and the per-round distributed Spark loop (the huge-dictionary
    path) — must learn the IDENTICAL merge table from the corpus."""
    from etl_wildweb_spark.operators import text as T

    driver = [tuple(r) for r in T.b156_bpe_train(spark, sf_dir).collect()]
    monkeypatch.setattr(T, "BPE_TRAIN_DRIVER_MAX", -1)
    dist = [tuple(r) for r in T.b156_bpe_train(spark, sf_dir).collect()]
    assert driver == dist
    assert len(driver) == T.BPE_MERGES


def test_bpe_train_threshold_boundary_switches_paths(
    spark, tmp_path, monkeypatch
):
    """The BPE_TRAIN_DRIVER_MAX switch at its exact boundary (VERDICT
    r11 item 8): on a corpus with a KNOWN vocabulary size V, the
    threshold set to V takes the driver path (<= is inclusive) and
    V − 1 takes the distributed path — asserted by spying on both loop
    functions, not inferred — and the two runs learn the identical
    merge table."""
    import glob
    import os
    import shutil

    from etl_wildweb_spark.operators import text as T

    docs = [
        (1, "low low lower lowest", "en", "s1"),
        (2, "new newer newest low", "en", "s1"),
        (3, "wide wider widest newer", "en", "s2"),
    ]
    rows = [(i, t, lg, s, len(t)) for i, t, lg, s in docs]
    vocab = {w for _, t, _, _ in docs for w in t.split(" ") if w}
    df = spark.createDataFrame(
        rows,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    )
    d = str(tmp_path / "bpecorp")
    os.makedirs(d)
    st = os.path.join(d, "_s")
    df.coalesce(1).write.parquet(st)
    shutil.copy(
        glob.glob(os.path.join(st, "part-*.parquet"))[0],
        os.path.join(d, "documents.parquet"),
    )
    shutil.rmtree(st)

    calls: list[str] = []
    real_driver, real_dist = T._bpe_train_driver, T._bpe_train_distributed

    def spy_driver(dic):
        calls.append("driver")
        return real_driver(dic)

    def spy_dist(words):
        calls.append("distributed")
        return real_dist(words)

    monkeypatch.setattr(T, "_bpe_train_driver", spy_driver)
    monkeypatch.setattr(T, "_bpe_train_distributed", spy_dist)

    monkeypatch.setattr(T, "BPE_TRAIN_DRIVER_MAX", len(vocab))
    at_bound = [tuple(r) for r in T.b156_bpe_train(spark, d).collect()]
    monkeypatch.setattr(T, "BPE_TRAIN_DRIVER_MAX", len(vocab) - 1)
    above_bound = [tuple(r) for r in T.b156_bpe_train(spark, d).collect()]

    assert calls == ["driver", "distributed"], calls
    assert at_bound == above_bound
    assert at_bound, "corpus must learn at least one merge"


def test_ivfpq_composition_identity(spark, sf_dir):
    """b175 = IVF routing × PQ codes × cell-pruned ADC, pinned by FULL
    numpy replay: using the Spark-computed centroids (collected once),
    replay the corpus cell assignment, the PQ encode, the per-query
    distance tables, the probed-cell candidate filter, and the
    (adist, id) top-k — every returned row must match, ids and
    distances alike (codes ≡ numpy is already proven by the b134 pin;
    assignment ties resolve on the lowest cell id in both)."""
    import numpy as np

    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators import similarity as S

    e = table(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(e, dim=64)
    # Spark-side assignments (n_probe=1 corpus cells, N_PROBE query
    # probes) — collected so the replay uses the engine's own routing
    # rather than re-deriving float cosines in numpy
    corpus_cell = {
        r.vec_id: r.cell
        for r in S.assign_cells(e, cents, n_probe=1)
        .select("vec_id", "cell")
        .collect()
    }
    probes: dict[int, set] = {}
    for r in (
        S.assign_cells(
            e.filter(F.col("vec_id") < S.N_QUERIES), cents, n_probe=S.N_PROBE
        )
        .select("vec_id", "cell")
        .collect()
    ):
        probes.setdefault(r.vec_id, set()).add(r.cell)
    cb = np.zeros((S.PQ_SUBSPACES, S.PQ_K, S.PQ_SUBDIM))
    for r in S.pq_codebooks(e).collect():
        cb[r.sub, r.code] = np.asarray(r.centroid, dtype=np.float32)
    raw = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in e.select("vec_id", "embedding").collect()
    }

    def pq_codes(v):
        vs = v.astype(np.float32).reshape(S.PQ_SUBSPACES, S.PQ_SUBDIM)
        d2 = ((vs[:, None, :] - cb.astype(np.float32)) ** 2).sum(axis=2)
        return d2.argmin(axis=1)

    codes = {vid: pq_codes(v) for vid, v in raw.items()}
    subs = np.arange(S.PQ_SUBSPACES)
    expected = {}
    for q, cells in probes.items():
        qv = raw[q].reshape(S.PQ_SUBSPACES, S.PQ_SUBDIM)
        dt = ((qv[:, None, :] - cb) ** 2).sum(axis=2)  # (SUBS, K)
        cand = [
            (float(dt[subs, codes[v]].sum()), v)
            for v in raw
            if v != q and corpus_cell[v] in cells
        ]
        cand.sort()
        expected[q] = cand[: S.TOP_K]

    out = S.b175_ivfpq_search(spark, sf_dir).collect()
    got: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.rnk)):
        got.setdefault(r.query_id, []).append((r.adist, r.neighbor_id))
    assert set(got) == set(expected)
    for q in expected:
        assert len(got[q]) == len(expected[q]) == S.TOP_K, q
        for (ga, gv), (ea, ev) in zip(got[q], expected[q]):
            assert gv == ev, (q, gv, ev)
            assert abs(ga - ea) < 1e-9, (q, gv, ga, ea)


def test_ivfpq_search_recall(spark, sf_dir):
    """b175_ivfpq_search's recall@k against the exact-L2 top-k, derived
    by sequential float64 accumulation with a (distance, neighbor_id)
    tie-break: every query returns TOP_K neighbours, and the
    corpus-wide mean recall beats half the probed-fraction baseline
    N_PROBE/N_CELLS even on worst-case gaussian vectors."""
    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.operators import similarity as S

    e = table(spark, sf_dir, "embeddings")
    raw = {
        r.vec_id: list(map(float, r.embedding))
        for r in e.select("vec_id", "embedding").collect()
    }
    ann_sets: dict[int, set] = {}
    for r in S.b175_ivfpq_search(spark, sf_dir).collect():
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    def seq_d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    assert set(ann_sets) == {v for v in raw if v < S.N_QUERIES}
    total_hits = 0
    for q, anns in ann_sets.items():
        assert len(anns) == S.TOP_K, q
        ranked = sorted(
            (seq_d2(raw[q], raw[v]), v) for v in raw if v != q
        )
        exact = {v for _, v in ranked[: S.TOP_K]}
        total_hits += len(exact & anns)
    mean_recall = total_hits / (len(ann_sets) * S.TOP_K)
    assert mean_recall >= 0.5 * S.N_PROBE / S.N_CELLS, mean_recall


def test_bpe_decode_roundtrip_hostile_words(spark, sf_dir):
    """bpe_decode_expr inverts BOTH encoder paths on hostile words —
    unicode, an embedded literal '</w>', an embedded tab, 200-char
    repeats — under the corpus-trained merge table AND a synthetic
    table whose merges actually fire on those words.  This is the
    planted-input twin of b176's corpus-wide oracle (which proves the
    identity on real data but only over characters the corpus
    contains)."""
    from etl_wildweb_spark.operators import text as T

    hostile = [
        "äöüß",
        "数据表的行",
        "a</w>b",
        "tab\there",
        "nl\nthere",
        "x" * 200,
        "supercalifragilisticexpialidocious",
        "a",
    ]
    trained = [
        (r.left, r.right)
        for r in T.b156_bpe_train(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    synthetic = [("x", "x"), ("xx", "xx"), ("a", "</w>"), ("数", "据")]
    df = spark.createDataFrame([(w,) for w in hostile], "w string")
    for merges in (trained, synthetic):
        for enc in (
            T.bpe_encode_expr(F.col("w"), merges),
            T.bpe_encode_udf(merges)(F.col("w")),
        ):
            got = {
                r.w: r.dw
                for r in df.select(
                    "w", T.bpe_decode_expr(enc).alias("dw")
                ).collect()
            }
            assert got == {w: w for w in hostile}, merges


def test_cosine_zero_norm_is_null_and_never_ranks(spark):
    """cosine() is NULL for zero-norm inputs (the similarity is
    undefined there): without this, Spark's raw 0/0 NaN sorts GREATEST
    and a zero embedding — a real failure mode of production encoders —
    would top every descending top-k; DuckDB's builtin returns a -1.0
    NaN-comparison artifact instead, so neither raw kernel is usable
    semantics.  NULL falls out of rankings, thresholds, and max_by."""
    from etl_wildweb_spark.functions.vector import cosine

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], [1.0, 0.0]),   # identical → clamped 1.0
            (1, [1.0, 0.0], [-1.0, 0.0]),  # opposite → -1.0
            (2, [1.0, 0.0], [0.0, 0.0]),   # zero norm → NULL
            (3, [0.0, 0.0], [0.0, 0.0]),   # both zero → NULL
            (4, [float("nan"), 1.0], [1.0, 1.0]),  # NaN component → NULL
            (5, [1.0, 1.0], [float("nan"), float("nan")]),  # NaN side → NULL
            (6, [float("inf"), 0.0], [1.0, 0.0]),  # Inf component → NULL
            (7, [1.0, 1.0], [float("inf"), float("inf")]),  # Inf side → NULL
        ],
        "i long, a array<float>, b array<float>",
    )
    got = {r.i: r.c for r in df.select("i", cosine("a", "b").alias("c")).collect()}
    assert got[0] == 1.0 and got[1] == -1.0
    assert got[2] is None and got[3] is None
    # NaN norm must be NULL, not 1.0: den=NaN passes `den != 0.0` and
    # least(1.0, NaN)=1.0 would silently top every descending ranking
    # (ADVICE round 9)
    assert got[4] is None and got[5] is None
    # Inf components too: den=Inf passed the old isnan(den)-only guard
    # and Inf/Inf=NaN clamped to 1.0 (round-9 code-review find) — the
    # ratio-is-NaN guard covers both corruption classes
    assert got[6] is None and got[7] is None
    # and a zero vector never enters a cosine top-k: rank candidates
    # for one query, zero vector must sort after every real candidate
    from pyspark.sql import Window as W

    cands = spark.createDataFrame(
        [(10, [0.5, 0.5]), (11, [1.0, 2.0]), (12, [0.0, 0.0])],
        "nid long, ce array<float>",
    ).withColumn("qe", F.expr("array(1.0D, 1.0D)"))
    ranked = (
        cands.select("nid", cosine("qe", "ce").alias("cos"))
        .withColumn(
            "rnk",
            F.row_number().over(W.orderBy(F.desc_nulls_last("cos"), "nid")),
        )
        .collect()
    )
    order = [r.nid for r in sorted(ranked, key=lambda r: r.rnk)]
    assert order[-1] == 12, order


def test_shipped_corpora_have_no_zero_embeddings(sf_dir):
    """The oracles use DuckDB's list_cosine_similarity raw, so the
    NULL-on-zero-norm engine semantics must never be exercised by a
    shipped corpus — if this fails, the affected oracles need an
    explicit CASE WHEN norm = 0 THEN NULL mirror."""
    import duckdb

    con = duckdb.connect()
    n = con.execute(
        f"""SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')
            WHERE NOT list_has_any(list_transform(embedding, x -> x <> 0),
                                   [TRUE])"""
    ).fetchone()[0]
    assert n == 0, f"{n} zero embeddings in {sf_dir}"
    # the same contract for NaN components (ADVICE round 9): cosine()
    # now yields NULL on a NaN norm, so a shipped corpus containing NaN
    # components would need the oracle-side CASE mirror too
    n_nan = con.execute(
        f"""SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')
            WHERE list_has_any(list_transform(embedding, x -> isnan(x)),
                               [TRUE])"""
    ).fetchone()[0]
    assert n_nan == 0, f"{n_nan} NaN-component embeddings in {sf_dir}"
    # and Inf (round-9 code-review find: an Inf component is the same
    # ranking poison through a different arithmetic path)
    n_inf = con.execute(
        f"""SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')
            WHERE list_has_any(list_transform(embedding, x -> NOT isfinite(x)),
                               [TRUE])"""
    ).fetchone()[0]
    assert n_inf == 0, f"{n_inf} non-finite-component embeddings in {sf_dir}"


def test_b154_quantizer_half_boundary_plant(spark, tmp_path):
    """r13: b154's ppm quantizer moved from Spark round(double) to a
    numpy floor(y+0.5)/ceil(y-0.5) replay inside the Arrow projection
    pass.  Plant float32 components whose *1e6 product is an EXACT
    decimal half (k/128 -> k*7812.5) on both signs, plus near-half
    neighbors, and pin the projection against a pure-Python HALF_UP
    (away-from-zero) reference through the same sign matrix."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from etl_wildweb_spark.operators.similarity import (
        JL_IN_DIMS,
        JL_OUT_DIMS,
        _jl_signs,
    )

    rng = np.random.default_rng(7)
    vecs = []
    for i in range(8):
        v = rng.standard_normal(JL_IN_DIMS).astype(np.float32)
        # plant exact-half products: k/128 * 1e6 = k*7812.5 (odd k)
        v[0] = np.float32((2 * i + 1) / 128.0)
        v[1] = np.float32(-(2 * i + 3) / 128.0)
        v[2] = np.float32(1.0 / 128.0) + np.float32(1e-7)
        vecs.append((i, [float(x) for x in v], 0))
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    got = {
        r.vec_id: [r[f"y{j:02d}"] for j in range(JL_OUT_DIMS)]
        for r in registry.QUERIES["b154_jl_projection"](
            spark, str(tmp_path)
        ).collect()
    }

    def q(x: float) -> int:
        # float32 -> exact f64 -> exact decimal -> HALF_UP away from 0
        return int(
            Decimal(x * 1_000_000).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )

    want = {}
    for vid, emb, _ in vecs:
        xs = [q(float(np.float32(x))) for x in emb]
        want[vid] = [
            sum(s * x for s, x in zip(_jl_signs(j), xs))
            for j in range(JL_OUT_DIMS)
        ]
    assert got == want


def test_ivfpq_all_cells_equals_pq_adc_scan(spark, sf_dir, monkeypatch):
    """With every cell probed, IVF-PQ is the all-cells ADC scan: the
    same candidates scored by the same scorer in the same sum order, so
    b175 and b137 return the same rows, distances bit for bit."""
    from etl_wildweb_spark.operators import similarity as S

    monkeypatch.setattr(S, "N_PROBE", S.N_CELLS)
    ivfpq = sorted(tuple(r) for r in S.b175_ivfpq_search(spark, sf_dir).collect())
    scan = sorted(tuple(r) for r in S.b137_pq_adc_search(spark, sf_dir).collect())
    assert ivfpq, "empty IVF-PQ output"
    assert ivfpq == scan


@pytest.mark.parametrize(
    "name, max_jobs", [("b137_pq_adc_search", 4), ("b175_ivfpq_search", 13)]
)
def test_pq_search_job_count(spark, sf_dir, name, max_jobs):
    """Building and collecting a PQ search starts at most ``max_jobs``
    Spark jobs: the codebook, query ids and distance tables come from
    one driver collect, and b175's centroid table from one checkpoint."""
    sc = spark.sparkContext
    group = f"test_pq_search_job_count_{name}"
    sc.setJobGroup(group, group)
    try:
        assert registry.QUERIES[name](spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs
