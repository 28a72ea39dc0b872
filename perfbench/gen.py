"""Seeded input generators with planted ground truth.

Every generator takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed`` and writes parquet files into a directory.  It
returns the expected outputs the workload checks each pass against;
those are computed here, in plain Python, from what was planted, never
by the engine under test.  Same seed, same files, same truth.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------- WildWeb

#: The fixed ``now`` the batch pipeline filters the '1 Week' range against.
WILDWEB_NOW = datetime(2026, 1, 8, 0, 0, 0)
_BAD_COORDS = ["", "0", "0.0", "abc", None]
_BAD_DATES = ["n/a", "Invalid date"]
_RETRIEVED = "2026-01-08T00:00:00Z"


def _incident(rng, center: str, i: int, date: str, lat, lon) -> dict:
    return {
        "ic": None,
        "date": date,
        "name": f"{center} Fire {i}",
        "type": "Wildfire",
        "uuid": f"{center}-{i}",
        "acres": f"{rng.integers(1, 5000) / 10:.1f}",
        "fuels": "grass",
        "inc_num": str(1000 + i),
        "fire_num": None,
        "latitude": lat,
        "location": "somewhere",
        "longitude": lon,
        "resources": [{"res": f"E-{i % 7}"}] if i % 3 == 0 else [],
        "webComment": None,
        "fire_status": "Active",
        "fiscal_data": "",
    }


def wildweb(rng: np.random.Generator, out_dir: str, n_centers: int,
            incidents: tuple[int, int]) -> dict:
    """Per-center fetch results ``(center, payload, http_ok)``.

    Planted at exact counts: HTTP-not-ok centers, ``data: null``
    envelopes, 2-element envelopes, unparsable bodies; inside the good
    envelopes, out-of-window dates, unparsable dates and falsy, zero or
    non-numeric coordinates.  Returns the feature count and the error
    channel's (stage, reason) counts the pipeline must produce.

    Incident counts per center are a seeded permutation of counts spread
    evenly over ``incidents``, so every seed carries the same total work."""
    names = [f"C{i:04d}" for i in range(n_centers)]
    sizes = iter(rng.permutation(np.linspace(incidents[0], incidents[1], n_centers).round().astype(int)))
    kinds = np.array(["ok"] * n_centers, dtype=object)
    n_bad_kind = max(1, n_centers // 40)
    special = rng.permutation(n_centers)[: 4 * n_bad_kind]
    for j, kind in enumerate(["http_err", "null_data", "multi", "bad_json"]):
        kinds[special[j * n_bad_kind:(j + 1) * n_bad_kind]] = kind

    rows = []
    features = unparsable = 0
    for center, kind in zip(names, kinds):
        if kind == "http_err":
            rows.append((center, '{"message": "internal error"}', False))
            continue
        if kind == "bad_json":
            rows.append((center, "<html>not json</html>", True))
            continue
        if kind == "multi":
            env = [{"retrieved": _RETRIEVED, "data": []}] * 2
            rows.append((center, json.dumps(env), True))
            continue
        if kind == "null_data":
            env = [{"retrieved": _RETRIEVED, "data": None}]
            rows.append((center, json.dumps(env), True))
            continue
        data = []
        for i in range(int(next(sizes))):
            r = rng.random()
            if r < 0.08:  # unparsable date: kept by the window, then an error
                date = _BAD_DATES[int(rng.integers(len(_BAD_DATES)))]
            elif r < 0.23:  # older than one week (whole minutes, off the edge)
                date = (WILDWEB_NOW - timedelta(
                    minutes=int(rng.integers(7 * 1440 + 60, 30 * 1440))
                )).strftime("%Y-%m-%d %H:%M:%S")
            else:
                date = (WILDWEB_NOW - timedelta(
                    seconds=int(rng.integers(60, 7 * 86400 - 3600))
                )).strftime("%Y-%m-%d %H:%M:%S")
            lat = f"{rng.uniform(31.0, 42.0):.4f}"
            lon = f"{rng.uniform(102.0, 124.0):.4f}"
            geo_ok = rng.random() >= 0.1
            if not geo_ok:
                bad = _BAD_COORDS[int(rng.integers(len(_BAD_COORDS)))]
                if rng.random() < 0.5:
                    lat = bad
                else:
                    lon = bad
            if date in _BAD_DATES:
                unparsable += 1
            elif r >= 0.23 and geo_ok:
                features += 1
            data.append(_incident(rng, center, i, date, lat, lon))
        env = [{"retrieved": _RETRIEVED, "data": data}]
        rows.append((center, json.dumps(env), True))

    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    table = pa.table({
        "center": [r[0] for r in rows],
        "payload": [r[1] for r in rows],
        "http_ok": [r[2] for r in rows],
    })
    os.makedirs(out_dir, exist_ok=True)
    # several row groups, so the scan splits across cores
    pq.write_table(table, os.path.join(out_dir, "envelopes.parquet"),
                   row_group_size=max(1, len(rows) // 16))
    errors = {
        ("fetch", "http_not_ok"): n_bad_kind,
        ("decode", "invalid_json"): n_bad_kind,
        ("envelope", "cardinality_2"): n_bad_kind,
    }
    if unparsable:
        errors[("normalize_date", "unparsable_date")] = unparsable
    return {"features": features, "errors": errors,
            "stream_centers": stream_centers(rng, max(8, n_centers // 4))}


def stream_centers(rng: np.random.Generator, n_centers: int) -> list[str]:
    """A seed-drawn center list for the streaming source's fake feed.
    The feed answers a center by its code's suffix (``_ERR`` HTTP 500,
    ``_BAD`` unparsable body, ``_MULTI`` two envelopes, ``_NULL`` no
    data); one center in forty of each is planted."""
    names = [f"S{int(i):05d}" for i in rng.choice(100_000, n_centers, replace=False)]
    n_bad = max(1, n_centers // 40)
    picks = rng.permutation(n_centers)[: 4 * n_bad]
    for j, suffix in enumerate(("_ERR", "_BAD", "_MULTI", "_NULL")):
        for k in picks[j * n_bad:(j + 1) * n_bad]:
            names[k] += suffix
    return names


# -------------------------------------------------------------- corpus

_VOCAB = (
    "a the join hash row batch scan column customer filter small slow fast "
    "big key agg table value part merge spark line sort window order data "
    "group query stream vector"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_N_SOURCES = 20

#: Mirrors operators.dedup.NGRAM_THRESHOLD and operators.packing.BUDGET;
#: the benchmark checks the program against these fixed contracts.
JACCARD_THRESHOLD = 0.8
PACK_BUDGET = 512


def shingles(text: str) -> set[str]:
    toks = text.split(" ")
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def md5_bucket(key: int, buckets: int) -> int:
    """Python twin of operators.sampling.hash_bucket."""
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % buckets


def _near_copy(rng, toks: list[str]) -> list[str]:
    """One edit at the tail: the 3-gram set changes by one or two grams."""
    out = list(toks)
    if rng.random() < 0.5:
        out.append(_VOCAB[int(rng.integers(len(_VOCAB)))])
    else:
        choices = [w for w in _VOCAB if w != out[-1]]
        out[-1] = choices[int(rng.integers(len(choices)))]
    return out


def _components(n: int, edges) -> list[int]:
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(i) for i in range(n)]


def exact_edges(texts: list[str]) -> set[tuple[int, int]]:
    """Every pair with 3-gram Jaccard >= threshold, by inverted index."""
    sets = [shingles(t) for t in texts]
    index: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for g in s:
            index.setdefault(g, []).append(i)
    seen, edges = set(), set()
    for posting in index.values():
        for x in range(len(posting)):
            for y in range(x + 1, len(posting)):
                pair = (posting[x], posting[y])
                if pair in seen:
                    continue
                seen.add(pair)
                if jaccard(sets[pair[0]], sets[pair[1]]) >= JACCARD_THRESHOLD:
                    edges.add(pair)
    return edges


def corpus(rng: np.random.Generator, out_dir: str, n_base: int) -> dict:
    """``documents`` with planted exact copies and near-duplicate clusters.

    Base documents are random token sequences (31-word vocabulary, 10-99
    tokens, like the engine's test corpus), so unrelated documents share
    almost no 3-grams.  One base document in twelve gets 1-2 exact
    copies; another one in twelve (at least 40 tokens long) gets 1-3
    near copies, each one tail edit away from the original.  Lengths and
    copy counts are seeded permutations of fixed lists, so every seed
    carries the same number of documents and tokens.  The planted groups
    are checked against an exact all-pairs Jaccard pass before anything
    is written."""
    lengths = rng.permutation(np.linspace(10, 99, n_base).round().astype(int))
    base = [[_VOCAB[int(k)] for k in rng.integers(0, len(_VOCAB), int(n))] for n in lengths]
    texts: list[str] = [" ".join(t) for t in base]
    group = list(range(n_base))  # planted group id = index of the original
    picks = rng.permutation(n_base)
    n_plant = max(1, n_base // 12)
    for j, b in enumerate(picks[:n_plant]):
        for _ in range(1 + j % 2):
            texts.append(texts[b])
            group.append(int(b))
    long_docs = [int(b) for b in picks[n_plant:] if len(base[b]) >= 40][:n_plant]
    for j, b in enumerate(long_docs):
        for _ in range(1 + j % 3):
            while True:
                cand = _near_copy(rng, base[b])
                if jaccard(shingles(" ".join(cand)), shingles(texts[b])) >= JACCARD_THRESHOLD:
                    break
            texts.append(" ".join(cand))
            group.append(b)

    n = len(texts)
    # doc ids are a seeded permutation, so the original is not always the
    # smallest id of its cluster
    ids = rng.permutation(n)
    order = np.argsort(ids)  # row i of the file holds doc_id i
    texts = [texts[j] for j in order]
    group = [group[j] for j in order]

    planted = _components(n, list(_group_pairs(group)))
    edges = exact_edges(texts)
    found = _components(n, edges)
    if planted != found:
        raise RuntimeError("corpus generator: planted clusters differ from exact Jaccard clusters")

    lang = [_LANGS[int(k)] for k in rng.choice(len(_LANGS), n, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    source = [f"src{int(k)}" for k in rng.integers(0, _N_SOURCES, n)]
    n_chars = [len(t) for t in texts]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": lang,
            "source": source,
            "n_chars": pa.array(n_chars, pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    truth = _corpus_truth(texts, planted, lang, source, n_chars)
    truth["edges"] = len(edges)
    return truth


def _group_pairs(group: list[int]):
    first: dict[int, int] = {}
    for i, g in enumerate(group):
        if g in first:
            yield first[g], i
        else:
            first[g] = i


def _corpus_truth(texts, root, lang, source, n_chars) -> dict:
    n = len(texts)
    sizes: dict[int, int] = {}
    for r in root:
        sizes[r] = sizes.get(r, 0) + 1
    clustered = {(i, root[i]) for i in range(n) if sizes[root[i]] > 1}
    kept = {(i, lang[i], source[i], n_chars[i]) for i in range(n) if root[i] == i}

    split = {}
    for name in ("train", "val", "test"):
        split[name] = [0, set()]
    for i in range(n):
        b = md5_bucket(root[i], 100)
        name = "train" if b < 80 else "val" if b < 90 else "test"
        split[name][0] += 1
        split[name][1].add(root[i])
    splits = {(k, v[0], len(v[1])) for k, v in split.items() if v[0]}

    packed = set()
    for src in sorted(set(source)):
        fill, b = 0, 0
        for i in range(n):  # doc_id order
            if source[i] != src:
                continue
            t = math.ceil(n_chars[i] / 4)
            if fill and fill + t > PACK_BUDGET:
                b, fill = b + 1, 0
            fill += t
            packed.add((src, i, t, b))
    return {
        "docs": n,
        "clustered": clustered,
        "clusters": len({r for i, r in clustered}),
        "all_clusters": len(set(root)),
        "kept": kept,
        "splits": splits,
        "packed": packed,
        "tokens": sum(math.ceil(c / 4) for c in n_chars),
    }


# --------------------------------------------------------------- TPC-H

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[int(k)] for k in rng.integers(0, len(values), n)]


def tpch(rng: np.random.Generator, out_dir: str, sf: float) -> dict:
    """The engine's TPC-H-shaped star schema (the test corpus layout:
    same tables, columns, types and value domains) at scale ``sf``;
    sf 0.01 is 60k lineitem rows.  Rows are drawn from the seed; the
    check is the DuckDB oracle over the same files."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{int(k)}" for k in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": [900 + (i % 1000) / 10 for i in range(n_part)]}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows // 8))
    return {"tables": {k: v.num_rows for k, v in tables.items()}}
