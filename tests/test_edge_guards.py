"""Degenerate-input guards from ADVICE r6 — each test plants the exact
shape the advisor flagged (short docs, one-row arms, constant arms,
single-arm event types, zero-conversion corpora) and proves the engine
either matches the oracle on it or takes the guarded branch, instead of
crashing / NaN-ing / hallucinating attribution."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_wildweb_spark import registry
from etl_wildweb_spark.io import TABLES

from .oracle_utils import compare

registry.load_all()


def _planted_dir(tmp_path, sf_dir: str, overrides: dict[str, pd.DataFrame]) -> str:
    """A corpus dir that symlinks every real table except the planted
    overrides, which are written as single parquet FILES (both loaders
    read {dir}/{t}.parquet; DuckDB's view needs a file, not a dir)."""
    d = tmp_path / "corpus"
    d.mkdir()
    for t in TABLES:
        if t not in overrides:
            os.symlink(
                os.path.join(sf_dir, f"{t}.parquet"), str(d / f"{t}.parquet")
            )
    for t, pdf in overrides.items():
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        # events.ts must ship as TIMESTAMP(MICROS) — pandas ns would
        # write TIMESTAMP(NANOS), which the two engines truncate on
        # different paths
        if "ts" in pdf.columns:
            i = tbl.schema.get_field_index("ts")
            tbl = tbl.set_column(
                i, "ts", tbl.column("ts").cast(pa.timestamp("us"))
            )
        pq.write_table(tbl, str(d / f"{t}.parquet"))
    return str(d)


def _arm(user_id: int) -> str:
    """Python replica of sampling.hash_bucket(key, 2): md5 of the
    decimal string, first 8 hex chars, 32-bit int, % 2."""
    h = int(hashlib.md5(str(user_id).encode()).hexdigest()[:8], 16)
    return "a" if h % 2 == 0 else "b"


def _events(rows) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "event_id": pd.array([r[0] for r in rows], dtype="int64"),
            "ts": pd.to_datetime([r[1] for r in rows]),
            "user_id": pd.array([r[2] for r in rows], dtype="int64"),
            "event_type": [r[3] for r in rows],
            "value": [float(r[4]) for r in rows],
            "props": ["{}" for _ in rows],
        }
    )


def test_b161_short_docs_contribute_zero_grams(spark, sf_dir, tmp_path):
    """A 1-token (or empty) document must yield no trigrams — not an
    INVALID_PARAMETER_VALUE.LENGTH crash from slice(toks, 1, -1)
    (ADVICE r6 medium).  Full oracle parity on the planted corpus."""
    docs = pd.DataFrame(
        {
            "doc_id": pd.array(range(6), dtype="int64"),
            "text": [
                "",  # splits to [''] — size 1
                "one",
                "two tokens",
                "three token doc",
                "alpha beta gamma delta",
                "alpha beta gamma epsilon zeta",
            ],
            "lang": ["en"] * 6,
            "source": ["s1", "s1", "s1", "s2", "s2", "s1"],
            "n_chars": pd.array([0, 3, 10, 15, 22, 29], dtype="int64"),
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"documents": docs})
    name = "b161_source_novelty"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    # and the short docs really did contribute nothing: only the two
    # 3+-token docs per source carry grams (s1: the 5-token doc's 3;
    # s2: 1 from the 3-token doc + 2 from the 4-token doc)
    out = {
        r.source: (r.n_grams_distinct, r.n_novel)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    # "alpha beta gamma" occurs in both sources -> attributed to s1
    assert out == {"s1": (3, 3), "s2": (3, 2)}


def test_b164_degenerate_arms_yield_null_not_naninf(spark, sf_dir, tmp_path):
    """One row per arm (zero degrees of freedom) and constant-value
    arms (zero pooled variance) must emit z2_micro NULL / significant
    false — not NaN/Inf crossing a non-ANSI bigint cast (ADVICE r6).
    Single-arm event types are dropped by the a×b pairing.  Checked by
    full oracle parity plus explicit branch assertions."""
    # two users per arm with known md5 arms
    a_users = [u for u in range(100) if _arm(u) == "a"][:3]
    b_users = [u for u in range(100) if _arm(u) == "b"][:3]
    t0 = "2024-01-01T00:00:0{}"
    rows = []
    eid = 0

    def add(user, etype, value):
        nonlocal eid
        rows.append((eid, t0.format(eid % 10), user, etype, value))
        eid += 1

    # case 1: one row per arm -> n_a + n_b = 2 -> NULL
    add(a_users[0], "pair_single", 1.25)
    add(b_users[0], "pair_single", 9.75)
    # case 2: both arms constant -> zero pooled variance -> NULL
    for u in a_users + b_users:
        add(u, "flatline", 42.0)
    # case 3: healthy contrast -> real statistic
    for i, u in enumerate(a_users):
        add(u, "healthy", 10.0 + i)
        add(u, "healthy", 11.0 + i)
    for i, u in enumerate(b_users):
        add(u, "healthy", 20.0 + 2 * i)
        add(u, "healthy", 22.0 + i)
    # case 4: only arm a present -> dropped entirely
    for u in a_users:
        add(u, "lonely_arm", 5.0)

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    name = "b164_ab_test"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {r.event_type: r for r in registry.QUERIES[name](spark, planted).collect()}
    assert set(got) == {"pair_single", "flatline", "healthy"}  # lonely_arm dropped
    assert got["pair_single"].z2_micro is None
    assert got["pair_single"].significant is False
    assert got["flatline"].z2_micro is None
    assert got["flatline"].significant is False
    assert got["healthy"].z2_micro is not None and got["healthy"].z2_micro > 0


def test_b165_zero_conversions_zero_attribution(spark, sf_dir, tmp_path):
    """A corpus with no 'purchase' events has nothing to attribute:
    every channel's removal effect and share must be 0 — not the equal
    nonzero split the unguarded `else 0.0` produced (ADVICE r6)."""
    rows = []
    for eid, (user, etype) in enumerate(
        [(1, "view"), (1, "click"), (2, "view"), (2, "signup"), (3, "click")]
    ):
        rows.append((eid, f"2024-01-01T00:00:0{eid}", user, etype, 1.0))
    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    out = registry.QUERIES["b165_markov_attribution"](spark, planted).collect()
    assert out, "channels must still be listed"
    for r in out:
        assert r.n_converting_paths == 0
        assert r.removal_effect_ppm == 0, r
        assert r.attribution_share_ppm == 0, r


def test_b80_digitless_props_get_untagged_channel(spark, sf_dir, tmp_path):
    """props with no digits made regexp_extract return '' and the ANSI
    cast crash the whole query in BOTH engines (degenerate-corpus
    sweep, round 7).  Such events now carry an explicit 'untagged'
    channel; full oracle parity on the planted corpus plus the branch
    assertion."""
    rows = [
        (0, "2024-01-01T00:00:00", 1, "view", 1.0),      # props '{}' → untagged
        (1, "2024-01-01T00:00:01", 1, "purchase", 10.0),
        (2, "2024-01-01T00:00:02", 2, "view", 1.0),
        (3, "2024-01-01T00:00:03", 2, "purchase", 20.0),
    ]
    ev = _events(rows)
    ev.loc[2, "props"] = '{"k": 7}'  # user 2's touch stays tagged
    planted = _planted_dir(tmp_path, sf_dir, {"events": ev})
    name = "b80_attribution"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {r.channel: r.n_purchases
           for r in registry.QUERIES[name](spark, planted).collect()}
    assert got.get("untagged") == 1, got  # user 1's purchase


def test_b08_asof_family_randomized_tie_differential(spark, sf_dir, tmp_path):
    """Seeded randomized tie-dense differential over the four as-of
    variants this round's window re-confirms (b05–b08 were the
    r05-stale cohort): coarse timestamps manufacture heavy same-user
    ts ties (the (ts, event_id) tiebreak is each window variant's
    pinned subtlety), several orders share one (custkey, orderdate)
    (the packed max_by tiebreak), and events land exactly AT order-date
    midnights (the DATE <= TIMESTAMP boundary).  Full strict oracle
    parity on the planted corpus for all four."""
    import datetime as dt
    import random

    rng = random.Random(23)
    base = dt.datetime(2024, 5, 1)
    # six coarse instants incl. two exact midnights → dense ts ties
    instants = [
        base,
        base + dt.timedelta(hours=6),
        base + dt.timedelta(hours=6),  # doubled: even denser ties
        base + dt.timedelta(days=1),
        base + dt.timedelta(days=1, hours=12),
        base + dt.timedelta(days=2, minutes=1),
    ]
    ev_rows = [
        (eid, rng.choice(instants), rng.randrange(1, 15),
         rng.choice(["view", "purchase"]), 1.0)
        for eid in range(1, 121)
    ]
    # round 12: the tolerance rule's own == boundary — user 20's pair
    # is EXACTLY 3600 s apart (kept: <=), user 21's is 1 µs past (drops)
    us = dt.timedelta(microseconds=1)
    h1 = dt.timedelta(hours=1)
    ev_rows += [
        (201, base + dt.timedelta(days=5), 20, "view", 1.0),
        (202, base + dt.timedelta(days=5) + h1, 20, "view", 1.0),
        (203, base + dt.timedelta(days=6), 21, "view", 1.0),
        (204, base + dt.timedelta(days=6) + h1 + us, 21, "view", 1.0),
    ]
    # datetime objects, not isoformat strings: pd.to_datetime rejects
    # a MIX of with/without-microsecond strings (the 204 row has µs)
    ev = _events(ev_rows)
    dates = [dt.date(2024, 4, 29), dt.date(2024, 5, 1),
             dt.date(2024, 5, 2), dt.date(2024, 5, 3)]
    orders = pd.DataFrame(
        {
            "o_orderkey": pd.array(range(1, 81), dtype="int64"),
            # custkey drawn from HALF the event users (some events have
            # no as-of match) and repeated per date (max_by tiebreak)
            "o_custkey": pd.array(
                [rng.randrange(1, 8) for _ in range(80)], dtype="int64"
            ),
            "o_orderdate": [rng.choice(dates) for _ in range(80)],
            "o_totalprice": [float(rng.randrange(100, 900)) for _ in range(80)],
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"events": ev, "orders": orders})
    for name in (
        "b08_join_asof",
        "b08_asof_forward",
        "b08_asof_tolerance",
        "b08_asof_payload",
    ):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )
    tol = {
        r.event_id: r.gap_us
        for r in registry.QUERIES["b08_asof_tolerance"](spark, planted).collect()
    }
    assert tol[202] == 3600 * 1_000_000   # == tolerance KEPT
    assert 204 not in tol                 # 1 µs past the hour drops


def test_b12_b14_rank_family_tie_dense_differential(spark, sf_dir, tmp_path):
    """Tie-dense planted differential over the ranking family in this
    round's window (b12 ranks, b14 top-k per group/global): acctbals
    and totalprices drawn from THREE values, so nearly every window
    frame is one long tie run — rank/dense_rank tie plateaus, ntile
    cut points inside tie runs, WindowGroupLimit's partial top-k under
    ties, and TakeOrderedAndProject's k-set under ties all resolve
    through the pinned unique-key tiebreaks or tie-stability rules.
    Full strict oracle parity on the planted corpus for all three."""
    import random

    rng = random.Random(31)
    n = 120
    customer = pd.DataFrame(
        {
            "c_custkey": pd.array(range(1, n + 1), dtype="int64"),
            "c_name": [f"c{i}" for i in range(1, n + 1)],
            "c_nationkey": pd.array(
                [rng.randrange(0, 4) for _ in range(n)], dtype="int32"
            ),
            "c_acctbal": [rng.choice([100.0, 250.5, 999.0]) for _ in range(n)],
            "c_mktsegment": ["BUILDING"] * n,
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": pd.array(range(1, n + 1), dtype="int64"),
            "o_custkey": pd.array(
                [rng.randrange(1, 30) for _ in range(n)], dtype="int64"
            ),
            "o_orderpriority": [
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]) for _ in range(n)
            ],
            "o_totalprice": [rng.choice([10.0, 20.0, 30.0]) for _ in range(n)],
        }
    )
    planted = _planted_dir(
        tmp_path, sf_dir, {"customer": customer, "orders": orders}
    )
    for name in ("b12_window_rank", "b14_topk_per_group", "b14_topk_global"):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )


def test_boundary_dense_events_differential(spark, sf_dir, tmp_path):
    """One boundary-dense planted events corpus strict-compared across
    the hand-rolled-construction oracle family (round 11, written
    after the session-gap find proved these boundaries are exactly
    where oracles rot): exactly-touching 300 s coverage intervals and
    ±1 µs on either side (b77's island touch rule), duplicate
    timestamps (ordering ties everywhere), midnight-straddling
    day-streak events (b118), events exactly 7 days apart ±1 µs (b74's
    range-frame edge), plus jitter filler.  The session family's own
    plant lives in tests/test_streaming.py."""
    import datetime as dt
    import random

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    us = dt.timedelta(microseconds=1)
    s300 = dt.timedelta(seconds=300)
    rng = random.Random(5)
    rows = []

    def add(t, u, ty="view", v=1.0):
        # datetime objects, not isoformat strings: pd.to_datetime
        # rejects a MIX of with/without-microsecond strings
        rows.append((len(rows) + 1, t, u, ty, v))

    add(t0, 1); add(t0 + s300, 1); add(t0 + 2 * s300, 1); add(t0 + 2 * s300, 1)
    add(t0, 2); add(t0 + s300 + us, 2)
    add(t0 + 3 * s300, 2); add(t0 + 4 * s300 - us, 2)
    for dd in range(3):
        add(dt.datetime(2024, 3, 1 + dd, 23, 59, 59, 999999), 3)
        add(dt.datetime(2024, 3, 2 + dd, 0, 0, 0), 3)
    add(t0, 4, "purchase", 10.0)
    add(t0 + dt.timedelta(days=7), 4, "purchase", 20.0)
    add(t0 + dt.timedelta(days=7) + us, 4, "purchase", 30.0)
    for _ in range(30):
        add(t0 + dt.timedelta(minutes=rng.randrange(0, 2000)), 5,
            rng.choice(["view", "purchase"]), rng.choice([1.0, 2.5]))
    # round 12: same-INSTANT attribute flips — three rows at one
    # identical timestamp with alternating event_type, so SCD
    # versioning, snapshot latest-row picks, funnel step ordering, and
    # CEP matches are decided purely by the (ts, event_id) tie-break;
    # plus a ±1 µs flip straddle around a fourth row
    add(t0 + dt.timedelta(hours=5), 6, "view")
    add(t0 + dt.timedelta(hours=5), 6, "purchase", 3.0)
    add(t0 + dt.timedelta(hours=5), 6, "view")
    add(t0 + dt.timedelta(hours=6), 6, "purchase", 4.0)
    add(t0 + dt.timedelta(hours=6) - us, 6, "view")
    add(t0 + dt.timedelta(hours=6) + us, 6, "view")
    # round 12: EXACT 30:00 session gaps on an isolated day — Spark's
    # session_window merges an event landing exactly at prev + gap
    # (the a33793e inclusive rule), and b116's oracle split on >= for
    # eleven rounds because no corpus gap ever hit :00.000000 (found by
    # probing this exact pair; fixed to > in the same commit as this
    # plant).  One merged ==-gap pair, one +1 µs split pair, one −1 µs
    # merged pair → day 2024-03-20 must read 4 sessions / 2 bounces.
    d20 = dt.datetime(2024, 3, 20)
    m30 = dt.timedelta(minutes=30)
    add(d20, 7); add(d20 + m30, 7)
    add(d20 + dt.timedelta(hours=5), 7)
    add(d20 + dt.timedelta(hours=5) + m30 + us, 7)
    add(d20 + dt.timedelta(hours=10), 7)
    add(d20 + dt.timedelta(hours=10) + m30 - us, 7)

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    for name in (
        "b77_interval_union",
        "b118_longest_streak",
        "b119_clamped_balance",
        "b74_rolling_features",
        "b121_linear_interpolate",
        "b125_seasonal_anomaly",
        "b116_bounce_rate",
        # the 300 s chain lands events at exact window/slide starts
        "b21_tumbling_window",
        "b21_sliding_window",
        # round 12: the ordering-tie family — SCD versioning, snapshot
        # latest-row, as-of picks, funnel/CEP step order, path mining,
        # Markov transitions all key on the (ts, event_id) tie-break
        # the same-instant flips above exercise
        "b41_scd2_history",
        "b117_scd3_current",
        "b76_snapshot_diff",
        "b98_asof_snapshot",
        "b47_funnel",
        "b52_sequence_match",
        "b68_cep_kleene",
        "b80_attribution",
        "b105_event_paths",
        "b102_markov_transitions",
        "b38_merge_upsert",
        "b75_merge_full",
    ):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )

    # intent for the ==-gap sessions: the isolated day carries exactly
    # user 7's three planted pairs — merged, split, merged
    days = {
        str(r.day): (r.n_sessions, r.n_bounces)
        for r in registry.QUERIES["b116_bounce_rate"](spark, planted).collect()
    }
    assert days["2024-03-20"] == (4, 2), days


def _geo_coord(event_id: int, salt: str) -> int:
    """Python replica of geo._coord: hash_bucket(f"{id}{salt}", span)."""
    h = int(
        hashlib.md5(f"{event_id}{salt}".encode()).hexdigest()[:8], 16
    )
    return h % 50_000_000


def test_geo_family_boundary_dense_plant(spark, sf_dir, tmp_path):
    """One ==-boundary-dense planted corpus strict-compared across the
    WHOLE geo oracle family (VERDICT r11 item 6 — the session-gap find
    proved corpus-only greens can hide ==-boundary rules for rounds;
    geo was the largest oracled family without a dedicated plant).

    Geo coordinates are md5-derived from event_id, so the plants are
    MINED ids (tests/mine_geo_boundaries.py, 2e7-id sweep) whose
    derived coordinates hit the exact integer boundaries; every
    planted fact is re-derived and asserted here, so a corpus or hash
    change goes red loudly:

    - a pair at dist² == r² EXACTLY (the 3-4-5 lattice offset
      80000/60000) — must be INSIDE b166's <= predicate, and its edge
      is load-bearing for every core in a planted DBSCAN triangle;
    - a pair at dist² == r²+1 (excluded) and one at r²−3 (included);
    - a lone ==r² pair whose two points stay noise in b173 (degree
      1+self < minPts) while still pairing in b166;
    - a DBSCAN border case: a point whose ONLY in-radius neighbor is
      a core point;
    - points exactly ON cell edges at all three pyramid resolutions
      (lat/lon ≡ 0 mod 0.1°, 1°, 10°) — the div-boundary cells;
    - points with a coordinate exactly AT a geofence zone bound
      (20e6/25e6/30e6 micro-deg) — pins the >= lower / < upper rule.
    """
    import datetime as dt

    R2 = 100_000**2
    # mined groups (see docstring); cross-group separation asserted below
    tri1 = [10366482, 1519328, 26811]     # all-core via the ==r² edge
    lone = [6063946, 6719509]             # ==r² pair, noise in b173
    above = [803409, 8644501]             # r²+1 — excluded
    below = [15823502, 19057423]          # r²−3 — included
    tri2 = [428170, 92983, 33058]         # second core triangle
    border = 92048                        # only neighbor is 92983 (core)
    edges = [91473, 55047, 1578234, 837576]
    zones = [11441174, 15062366, 10630567, 17034635, 12860468]
    ids = tri1 + lone + above + below + tri2 + [border] + edges + zones

    pt = {i: (_geo_coord(i, "lat"), _geo_coord(i, "lon")) for i in ids}

    def d2(a, b):
        return (pt[a][0] - pt[b][0]) ** 2 + (pt[a][1] - pt[b][1]) ** 2

    # the mined boundary facts, re-derived (regeneration-proof)
    assert d2(tri1[0], tri1[1]) == R2
    assert d2(lone[0], lone[1]) == R2
    assert d2(tri2[0], tri2[1]) == R2
    assert d2(*above) == R2 + 1
    assert d2(*below) == R2 - 3
    assert d2(tri1[0], tri1[2]) <= R2 and d2(tri1[1], tri1[2]) <= R2
    assert d2(tri2[0], tri2[2]) <= R2 and d2(tri2[1], tri2[2]) <= R2
    assert d2(border, tri2[1]) <= R2
    assert d2(border, tri2[0]) > R2 and d2(border, tri2[2]) > R2
    assert pt[91473][0] % 100_000 == 0 and pt[55047][1] % 100_000 == 0
    assert pt[1578234][0] % 1_000_000 == 0 and pt[837576][1] % 1_000_000 == 0
    assert pt[11441174][0] == 20_000_000 and pt[15062366][0] == 30_000_000
    assert pt[10630567][0] == 25_000_000
    assert pt[17034635][1] == 20_000_000 and pt[12860468][1] == 30_000_000
    # groups genuinely isolated: no accidental cross-group adjacency
    groups = [tri1, lone, above, below, tri2 + [border]]
    for gi, g in enumerate(groups):
        for go in groups[gi + 1:]:
            for a in g:
                for b in go:
                    assert d2(a, b) > R2, (a, b)

    # ts/user plants drive b170's boundaries on the same corpus:
    # dt == 0 (same-second fixes, excluded), dt == 1 (minimal kept),
    # and a kept segment whose displacement is exactly r²
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    user_ts = {
        tri1[0]: (1, t0), tri1[1]: (1, t0 + dt.timedelta(hours=1)),
        above[0]: (2, t0), above[1]: (2, t0),
        below[0]: (3, t0), below[1]: (3, t0 + dt.timedelta(seconds=1)),
    }
    rows = []
    for i, eid in enumerate(ids):
        u, ts = user_ts.get(eid, (1000 + i, t0 + dt.timedelta(minutes=i)))
        rows.append((eid, ts, u, "view" if i % 2 else "purchase", 1.0))

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    for name in (
        "b166_spatial_cell_join",
        "b167_geo_knn",
        "b168_geofence_rollup",
        "b169_tile_pyramid",
        "b170_trajectory_segments",
        "b173_dbscan_complexes",
        "b174_polygon_geofence",
    ):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )

    # intent-level pins on top of oracle parity
    pairs = {
        (r.id_a, r.id_b): r.dist2_microdeg2
        for r in registry.QUERIES["b166_spatial_cell_join"](
            spark, planted
        ).collect()
    }
    k1 = tuple(sorted(tri1[:2]))
    assert pairs[k1] == R2                     # == boundary INCLUDED
    assert tuple(sorted(above)) not in pairs   # r²+1 excluded
    assert pairs[tuple(sorted(below))] == R2 - 3
    roles = {
        r.event_id: (r.cluster_id, r.role)
        for r in registry.QUERIES["b173_dbscan_complexes"](
            spark, planted
        ).collect()
    }
    c1 = min(tri1)
    assert all(roles[i] == (c1, "core") for i in tri1), roles
    assert all(i not in roles for i in lone), roles  # deg 1+1 < minPts
    c2 = min(tri2)
    assert all(roles[i] == (c2, "core") for i in tri2), roles
    assert roles[border] == (c2, "border"), roles
    segs = {
        r.user_id: (r.dist2_microdeg2, r.dt_s)
        for r in registry.QUERIES["b170_trajectory_segments"](
            spark, planted
        ).collect()
        if r.user_id in (1, 2, 3)
    }
    assert segs[1] == (R2, 3600)       # exact-radius displacement kept
    assert 2 not in segs               # dt == 0 excluded (strict > 0)
    assert segs[3][1] == 1             # minimal positive duration kept


def test_outlier_gates_exact_threshold_boundary(spark, sf_dir, tmp_path):
    """==-boundary plants for the integer decision-predicate gates
    (round 12, continuing the boundary-plant program): both outlier
    detectors clear fractions into exact integer cross-multiplication,
    so the strict-vs-inclusive distinction lives at one equality.

    b104 (1.5σ z-score): a group of p copies of a and q copies of b
    gives the minority exactly 4q²(a−b)² vs 9pq(a−b)² — with p=4, q=9
    the two sides are EQUAL, so the strict > must flag nothing; q=10
    flips the minority to flagged, q=8 is safely below.

    b147 (1.5·MAD): a 5-value group engineered to MAD=400 with a
    member at dev=600 sits exactly at 2·600 == 3·400 — not flagged;
    one cent further (dev 700) flags.  A 4-value group pins the
    even-n LOWER-median rank rule ((n+1) div 2) in both histogram
    walks."""
    groups = {
        "g1-z-at": [10000] * 4 + [20000] * 9,
        "g2-z-above": [10000] * 4 + [20000] * 10,
        "g3-z-below": [10000] * 4 + [20000] * 8,
        "g4-mad-at": [9400, 9600, 10000, 10400, 10600],
        "g5-mad-above": [9400, 9600, 10000, 10400, 10700],
        "g6-even-median": [10000, 20000, 30000, 40000],
    }
    # the g1 equality, asserted as arithmetic (not just by outcome)
    n, s = 13, 4 * 10000 + 9 * 20000
    ssq = 4 * 10000**2 + 9 * 20000**2
    assert 4 * (n * 10000 - s) ** 2 == 9 * (n * ssq - s * s)
    # the g4 equality: dev 600 against MAD 400
    assert 2 * 600 == 3 * 400

    rows = []
    for prio, cents_list in groups.items():
        for c in cents_list:
            assert c % 100 == 0  # exact-double totalprice
            rows.append((len(rows) + 1, prio, c / 100.0))
    orders = pd.DataFrame(
        {
            "o_orderkey": pd.array([r[0] for r in rows], dtype="int64"),
            "o_orderpriority": [r[1] for r in rows],
            "o_totalprice": [r[2] for r in rows],
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"orders": orders})
    for name in ("b104_zscore_outliers", "b147_mad_outliers"):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )

    z = registry.QUERIES["b104_zscore_outliers"](spark, planted).collect()
    z_by_prio = {}
    for r in z:
        z_by_prio.setdefault(r.o_orderpriority, set()).add(r.cents)
    assert "g1-z-at" not in z_by_prio          # == boundary NOT flagged
    assert z_by_prio.get("g2-z-above") == {10000}
    assert "g3-z-below" not in z_by_prio
    m = {
        r.prio: (r.med_cents, r.mad_cents, r.n_outliers)
        for r in registry.QUERIES["b147_mad_outliers"](spark, planted).collect()
    }
    assert m["g4-mad-at"] == (10000, 400, 0)   # == boundary NOT flagged
    assert m["g5-mad-above"] == (10000, 400, 1)
    assert m["g6-even-median"] == (20000, 10000, 1)  # lower median, n even


def test_b178_quality_logit_exact_boundary(spark, sf_dir, tmp_path):
    """==-boundary plant for the quality classifier's strict decision
    (logit_micro_total > 0 · n_grams).  Reachability analysis first:
    every stand-in weight is 8k − 1020 ≡ 4 (mod 8) and every document
    has an odd gram count (n unigrams + n−1 bigrams), so logit totals
    are ≡ 4 (mod 8) and EXACTLY zero is arithmetically unreachable —
    the nearest reachable boundary values are ±4.  Mined 2-word docs
    landing exactly there: total +4 must flag high_quality, −4 must
    not; both are one weight-quantum from the threshold, so any
    off-by-one in the transcription (>= vs >, a dropped gram, a wrong
    bucket constant) flips an outcome."""
    import hashlib as _h

    def bkt(s, n=256):
        return int(_h.md5(s.encode()).hexdigest()[:8], 16) % n

    def w(g):
        return bkt(f"qw:{bkt(g)}") * 8 - 1020

    def doc_total(words):
        grams = [f"u:{x}" for x in words] + [
            f"b:{a} {b}" for a, b in zip(words, words[1:])
        ]
        return sum(w(g) for g in grams), len(grams)

    plus, minus = "w0 w35", "w0 w58"  # mined: first (i, j) hits in scan order
    assert doc_total(plus.split()) == (4, 3)
    assert doc_total(minus.split()) == (-4, 3)
    filler = "w1 w2 w3"
    t_fill, n_fill = doc_total(filler.split())
    assert t_fill % 8 == 4, "residue invariant: totals are 4 mod 8"

    docs = pd.DataFrame(
        {
            "doc_id": pd.array([1, 2, 3], dtype="int64"),
            "text": [plus, minus, filler],
            "lang": ["en"] * 3,
            "source": ["s1"] * 3,
            "n_chars": pd.array([len(plus), len(minus), len(filler)],
                                dtype="int64"),
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"documents": docs})
    name = "b178_quality_classifier"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.doc_id: (r.logit_micro_total, r.high_quality)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got[1] == (4, True)    # one quantum above the strict >
    assert got[2] == (-4, False)  # one quantum below
    assert got[3] == (t_fill, t_fill > 0)


def test_b113_pareto_exact_coverage_boundary(spark, sf_dir, tmp_path):
    """==-boundary plant for the Pareto coverage cut (strict
    (cum_before)·5 < total·4): a three-part corpus with revenue shares
    40/40/20 puts the third part's preceding cumulative revenue at
    EXACTLY 80% of total — excluded by the strict <; shifting one
    cent of revenue from the second part to the third (40/39.99/20.01
    → preceding cum 79.99%) flips it to kept.  Also pins the
    equal-revenue tie order (rank by partkey within equal cents)."""

    def planted_lineitem(cents_by_part):
        rows = [(pk, c / 100.0) for pk, c in cents_by_part]
        return pd.DataFrame(
            {
                "l_partkey": pd.array([r[0] for r in rows], dtype="int64"),
                "l_extendedprice": [r[1] for r in rows],
            }
        )

    name = "b113_pareto_coverage"

    # AT the boundary: part 3's preceding cum = 8000 of 10000 cents
    at = planted_lineitem([(1, 4000), (2, 4000), (3, 2000)])
    assert (4000 + 4000) * 5 == 10000 * 4
    (tmp_path / "at").mkdir()
    d_at = _planted_dir(tmp_path / "at", sf_dir, {"lineitem": at})
    compare(spark, d_at, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.l_partkey: (r.cents, r.rk)
        for r in registry.QUERIES[name](spark, d_at).collect()
    }
    assert got == {1: (4000, 1), 2: (4000, 2)}, got  # part 3 excluded

    # one cent below: preceding cum 7999 of 10000 → kept
    below = planted_lineitem([(1, 4000), (2, 3999), (3, 2001)])
    (tmp_path / "below").mkdir()
    d_below = _planted_dir(tmp_path / "below", sf_dir, {"lineitem": below})
    compare(
        spark, d_below, name, registry.QUERIES[name], registry.ORACLES[name]
    )
    got = {
        r.l_partkey: (r.cents, r.rk)
        for r in registry.QUERIES[name](spark, d_below).collect()
    }
    assert got == {1: (4000, 1), 2: (3999, 2), 3: (2001, 3)}, got


def test_frequency_gates_exact_retention_boundary(spark, sf_dir, tmp_path):
    """==-boundary plants for the two Misra-Gries-style retention
    rules, both strict integer cross-products:

    b109 (heavy hitters, 29·n > N over the corpus token stream): a
    token occurring exactly N/29 times sits AT the boundary and must
    NOT be emitted; the same count over a one-token-shorter stream
    (29·n == N+ boundary crossed) must be.

    b153 (daily frequent items, c·50 > day_total): a (day, user) cell
    holding exactly 1/50 of its day's events is dropped by the sketch
    retention; the same cell over a one-event-smaller day is kept.
    Both days coexist in one planted corpus."""
    import datetime as dt

    # --- b109: hot×2 + 56 distinct fillers -> N=58, 29·2 == 58
    at_tokens = ["hot"] * 2 + [f"f{i}" for i in range(56)]
    assert 29 * 2 == len(at_tokens)
    docs_at = pd.DataFrame(
        {
            "doc_id": pd.array([1], dtype="int64"),
            "text": [" ".join(at_tokens)],
            "lang": ["en"],
            "source": ["s1"],
            "n_chars": pd.array([len(" ".join(at_tokens))], dtype="int64"),
        }
    )
    # one filler fewer -> N=57, 29·2 = 58 > 57
    above_tokens = ["hot"] * 2 + [f"f{i}" for i in range(55)]
    docs_above = docs_at.copy()
    docs_above.loc[0, "text"] = " ".join(above_tokens)
    docs_above.loc[0, "n_chars"] = len(" ".join(above_tokens))

    name = "b109_heavy_hitters"
    (tmp_path / "hh_at").mkdir()
    d = _planted_dir(tmp_path / "hh_at", sf_dir, {"documents": docs_at})
    compare(spark, d, name, registry.QUERIES[name], registry.ORACLES[name])
    assert registry.QUERIES[name](spark, d).collect() == []  # == excluded
    (tmp_path / "hh_above").mkdir()
    d = _planted_dir(tmp_path / "hh_above", sf_dir, {"documents": docs_above})
    compare(spark, d, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {(r.token, r.n) for r in registry.QUERIES[name](spark, d).collect()}
    assert got == {("hot", 2)}, got

    # --- b153: day1 user 7 holds 2 of 100 events (2·50 == 100 — AT
    # the boundary, dropped); day2 user 7 holds 2 of 99 (kept)
    rows = []
    day1 = dt.datetime(2024, 3, 4, 0, 0, 0)   # a Monday
    day2 = dt.datetime(2024, 3, 5, 0, 0, 0)
    for day, fillers in ((day1, 98), (day2, 97)):
        rows.append((len(rows) + 1, day, 7, "view", 1.0))
        rows.append((len(rows) + 1, day + dt.timedelta(minutes=1), 7, "view", 1.0))
        for i in range(fillers):
            rows.append(
                (len(rows) + 1, day + dt.timedelta(minutes=2 + i),
                 1000 + i, "view", 1.0)
            )
    name = "b153_freq_items_rollup"
    (tmp_path / "fi").mkdir()
    d = _planted_dir(tmp_path / "fi", sf_dir, {"events": _events(rows)})
    compare(spark, d, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        (r.user_id, r.lower_cnt, r.n_days_retained)
        for r in registry.QUERIES[name](spark, d).collect()
    }
    # only day2's cell survives: lower bound 2, one retained day
    assert got == {(7, 2, 1)}, got


def test_rank_threshold_family_exact_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plants for the histogram rank-threshold family —
    every rule is an exact integer rank cut, so the interesting cases
    are exact divisibility and even-count ties:

    b45 (decile = cum_before·10 // total, capped): value groups sized
    so cum_before·10 lands exactly on multiples of the total;
    b50 (lower median, cumc >= (n+1) div 2): an even group whose two
    middle values differ must pick the LOWER one;
    b63 (percentile_disc bands, rank ⌈q·n⌉): a 20-value group makes
    q·n exactly divisible at p50/p95 (rank 10/19 — NOT 11/20) while
    p99 rounds up to rank 20."""
    docs = []
    # b45: counts 5 (n_chars=100), 5 (200), 10 (300) — cum_before
    # 0/5/10 → deciles 0, (50//20)=2, (100//20)=5, both exact-divisible
    for i in range(5):
        docs.append((len(docs) + 1, "x " * 3, "da", "s", 100))
    for i in range(5):
        docs.append((len(docs) + 1, "x " * 3, "da", "s", 200))
    for i in range(10):
        docs.append((len(docs) + 1, "x " * 3, "da", "s", 300))
    # b50 groups ride the same table via lang: even group with distinct
    # middles, odd control, and an even group whose median value's
    # cumulative count EXACTLY hits the threshold
    b50_rows = [
        ("ev", 10), ("ev", 20), ("ev", 30), ("ev", 40),
        ("od", 10), ("od", 20), ("od", 30),
        ("tt", 10), ("tt", 10), ("tt", 20), ("tt", 20),
    ]
    for lang, nc in b50_rows:
        docs.append((len(docs) + 1, "x " * 3, lang, "s", nc))
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([d[0] for d in docs], dtype="int64"),
            "text": [d[1] for d in docs],
            "lang": [d[2] for d in docs],
            "source": [d[3] for d in docs],
            "n_chars": pd.array([d[4] for d in docs], dtype="int64"),
        }
    )
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    ev = [
        (i + 1, t0 + dt.timedelta(minutes=i), 1, "t20", float(i + 1))
        for i in range(20)
    ]
    planted = _planted_dir(
        tmp_path, sf_dir, {"documents": pdf, "events": _events(ev)}
    )

    for name in (
        "b45_quality_deciles",
        "b50_grouped_median",
        "b63_quantile_bands",
    ):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )

    dec = {
        r.decile
        for r in registry.QUERIES["b45_quality_deciles"](spark, planted).collect()
    }
    # exact-divisible cum_before·10 edges land on deciles 0/2/5 for the
    # three planted value groups; the b50 rows add their own values but
    # the three planted groups' deciles must be present
    assert {0, 2, 5} <= dec, dec
    med = {
        r.lang: r.median_chars
        for r in registry.QUERIES["b50_grouped_median"](spark, planted).collect()
    }
    assert med["ev"] == 20  # lower of the two middles, n even
    assert med["od"] == 20
    assert med["tt"] == 10  # cumc(10) == threshold exactly
    bands = {
        r.event_type: (r.n, r.p50, r.p95, r.p99)
        for r in registry.QUERIES["b63_quantile_bands"](spark, planted).collect()
        if r.event_type == "t20"
    }
    # exact divisibility: rank ⌈0.5·20⌉=10, ⌈0.95·20⌉=19; ⌈0.99·20⌉=20
    assert bands["t20"] == (20, 10.0, 19.0, 20.0), bands


def _doc_rows(specs) -> pd.DataFrame:
    """documents rows from (doc_id, token-list) specs."""
    ids = [s[0] for s in specs]
    texts = [" ".join(s[1]) for s in specs]
    return pd.DataFrame(
        {
            "doc_id": pd.array(ids, dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": ["plant"] * len(ids),
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )


def test_dedup_gram_threshold_family_exact_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plants for the gram-threshold dedup family (round
    12, continuing the boundary-plant program): both thresholds are
    set-size ratios over word-3-gram sets, so exact boundaries are
    constructible by token-count arithmetic — a doc of n distinct
    tokens (no repeated triple) has exactly n−2 grams.

    Jaccard (≥ 0.8, b29 family): X = x1..x10 (8 grams) ⊂ Y = x1..x12
    (10 grams) gives 8/10 == 0.8 EXACTLY — and |Y| = 10 is the very
    set size where the old float prefix-length formula under-counted
    (the sf0.1 regression pinned unit-side in test_llmops), so this
    pair walks that code path end-to-end.  The == edge is made
    LOAD-BEARING for transitivity: Z = x1..x13 has J(Y,Z) = 10/11 and
    J(X,Z) = 8/11 < 0.8, so X joins cluster {X,Y,Z} only through the
    inclusive == edge — a strict > would leave X a singleton in both
    CC variants.  A second == pair (201/202: inter 8, union 10, sizes
    9/9) covers the non-subset shape; 301/302 (7/9) sits below, and
    401/402 (9/11) just above.  Y's id (105) is ≡ 0 mod 5, so the ==
    pair also crosses b82's batch×corpus split.

    Containment (≥ 0.9, b159): A = ca1..ca12 (10 grams) against
    B = ca1..ca11+cb1+cb2 (11 grams, 9 shared) gives |A∩B|/|A| ==
    9/10 EXACTLY (emitted, containment_ppm == 900000; the reverse
    direction 9/11 is not); 601/602 plant 8/10 safely below.  Their
    Jaccard values (9/12, 8/12) stay below 0.8, so the families stay
    disjoint.  Every ratio is re-derived from the token counts inside
    the test, and all six queries are strict-compared against their
    O(n²) DuckDB oracles on the planted corpus."""
    xt = [f"x{i}" for i in range(1, 14)]
    at = [f"a{i}" for i in range(1, 12)]
    ct = [f"c{i}" for i in range(1, 12)]
    et = [f"e{i}" for i in range(1, 14)]
    ca = [f"ca{i}" for i in range(1, 13)]
    da = [f"da{i}" for i in range(1, 13)]
    specs = [
        # jaccard == 0.8 chain: X(101) -0.8- Y(105) -10/11- Z(102)
        (101, xt[:10]),
        (105, xt[:12]),
        (102, xt[:13]),
        # jaccard == 0.8, non-subset shape
        (201, at[:11]),
        (202, at[:10] + ["b1"]),
        # just below: 7/9
        (301, ct[:9]),
        (302, ct[:11]),
        # just above: 9/11
        (401, et[:11]),
        (402, et[:13]),
        # containment == 0.9: inter 9 of |A| = 10
        (501, ca[:12]),
        (502, ca[:11] + ["cb1", "cb2"]),
        # containment below: inter 8 of |A| = 10
        (601, da[:12]),
        (602, da[:10] + ["db1", "db2"]),
        # filler so df ranks and prefix ordering see a real vocabulary
        *[
            (700 + i, [f"f{i}g{j}" for j in range(6)])
            for i in range(1, 9)
        ],
    ]

    def grams(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    g = {doc_id: grams(toks) for doc_id, toks in specs}

    def jac(i, j):
        return (len(g[i] & g[j]), len(g[i] | g[j]))

    # the planted ratios, re-derived from the token lists (not trusted
    # from the docstring): == boundary, the transitive bridge, the
    # below/above flanks, and the containment cut
    assert jac(101, 105) == (8, 10) and 8 * 5 == 10 * 4      # == 0.8
    assert jac(201, 202) == (8, 10)                          # == 0.8
    assert jac(105, 102) == (10, 11)                         # above
    assert jac(101, 102) == (8, 11)                          # below — bridge only via ==
    assert jac(301, 302) == (7, 9)                           # below
    assert jac(401, 402) == (9, 11)                          # above
    i_ab, a_sz = len(g[501] & g[502]), len(g[501])
    assert (i_ab, a_sz) == (9, 10) and 10 * i_ab == 9 * a_sz  # == 0.9
    assert 10 * len(g[601] & g[602]) < 9 * len(g[601])        # below
    # reverse containment of the == pair sits below the cut
    assert 10 * 9 < 9 * len(g[502])

    planted = _planted_dir(tmp_path, sf_dir, {"documents": _doc_rows(specs)})
    for name in (
        "b29_ngram_jaccard",
        "b29_minhash_near_dedup",
        "b29_cc_bigstar",
        "b82_incremental_neardup",
        "b159_containment_dedup",
    ):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )

    # intent on top of the oracle agreement: the == pairs are IN, the
    # below pairs OUT, and the == edge carries X into the cluster
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in registry.QUERIES["b29_ngram_jaccard"](spark, planted).collect()
    }
    assert pairs[(101, 105)] == 0.8          # == boundary INCLUDED
    assert pairs[(201, 202)] == 0.8
    assert (301, 302) not in pairs
    assert (101, 102) not in pairs           # the bridge pair itself is below
    assert (401, 402) in pairs
    clusters = {
        r.doc_id: r.cluster_id
        for r in registry.QUERIES["b29_cc_bigstar"](spark, planted).collect()
    }
    assert clusters[101] == clusters[105] == clusters[102]  # == edge load-bearing
    assert 301 not in clusters or clusters[301] != clusters.get(302)
    inc = {
        (r.batch_id, r.corpus_id): r.jaccard
        for r in registry.QUERIES["b82_incremental_neardup"](spark, planted).collect()
    }
    assert inc[(105, 101)] == 0.8            # == boundary crosses the batch split
    assert (105, 102) in inc
    cont = {
        (r.id_a, r.id_b): r.containment_ppm
        for r in registry.QUERIES["b159_containment_dedup"](spark, planted).collect()
    }
    assert cont[(501, 502)] == 900000        # == boundary INCLUDED, exact ppm
    assert (502, 501) not in cont            # reverse 9/11 below the cut
    assert (601, 602) not in cont and (602, 601) not in cont


def test_b68_cep_gap_exact_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for the CEP Kleene gap rule (48 h = G, round
    12): the operator has THREE distinct G-comparisons and each gets a
    user planted exactly ON it —

    user 10: two clicks exactly G apart (segmenter splits on gap > G,
    so == G must KEEP the chain: n_clicks == 2), opened by a view
    exactly G before chain_start and closed by a purchase exactly G
    after chain_end (attachment rule BETWEEN 1 AND G: == G INCLUDED)
    — the matched span is exactly 3G;
    user 11: clicks G+1 µs apart must SPLIT (two chains; only the
    first can be opened/closed, n_clicks == 1);
    user 12: view at the SAME INSTANT as the click (gap_open == 0,
    excluded by the >= 1 strictly-before rule) — no match;
    user 13: view G+1 µs before (just out) — no match;
    user 14: purchase G+1 µs after (just out) — no match;
    user 15: comfortably in-range control — one match.

    Each no-match user carries an otherwise-valid other side, so the
    absence is attributable to the planted boundary alone; the whole
    corpus is strict-compared against the oracle for b68 and its
    fixed-length sibling b52."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 10, 12, 0, 0)
    us = dt.timedelta(microseconds=1)
    G = dt.timedelta(hours=48)
    h = dt.timedelta(hours=1)
    rows = []

    def add(t, u, ty, v=1.0):
        rows.append((len(rows) + 1, t, u, ty, v))

    add(t0, 10, "click"); add(t0 + G, 10, "click")
    add(t0 - G, 10, "view"); add(t0 + 2 * G, 10, "purchase", 5.0)
    add(t0, 11, "click"); add(t0 + G + us, 11, "click")
    add(t0 - us, 11, "view"); add(t0 + G, 11, "purchase", 5.0)
    add(t0, 12, "click"); add(t0, 12, "view"); add(t0 + h, 12, "purchase", 5.0)
    add(t0, 13, "click"); add(t0 - G - us, 13, "view")
    add(t0 + h, 13, "purchase", 5.0)
    add(t0, 14, "click"); add(t0 - h, 14, "view")
    add(t0 + G + us, 14, "purchase", 5.0)
    add(t0, 15, "click"); add(t0 - h, 15, "view")
    add(t0 + h, 15, "purchase", 5.0)

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    for name in ("b68_cep_kleene", "b52_sequence_match"):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )

    m = {
        r.user_id: r
        for r in registry.QUERIES["b68_cep_kleene"](spark, planted).collect()
    }
    assert set(m) == {10, 11, 15}, sorted(m)
    assert m[10].n_clicks == 2                    # == G gap KEEPS the chain
    assert m[10].span_us == 3 * G // us           # view -G, chain G, purchase +G
    assert m[11].n_clicks == 1                    # G+1 µs SPLITS; chain 1 matched
    assert m[15].n_clicks == 1


def test_b120_linkage_exact_edit_and_block_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for record linkage (round 12): both of b120's
    decision rules are exact integer cuts — Levenshtein <= 1 and a
    16-char blocking-prefix equality — so each gets a planted pair ON
    it.  Only custkey 20 is ≡ 0 mod 10, so exactly one dirty record
    (16 P's + 'ABX') probes the block:

    26: clean name IDENTICAL to the dirty string      → dist 0, in;
    20/21/22/25: distance exactly 1 (delete / insert /
        substitute-at-18 / substitute-at-17)          → in;
    23: distance exactly 2                            → out;
    24: distance 1 BUT the block key flips at char 16 → blocked out —
        the substitution at position 16 vs 17 (24 vs 25) pins the
        prefix length exactly (a 15- or 17-char block key flips one
        of them), and 24 is the documented recall cost of blocking."""
    P = "P" * 16
    names = {
        20: P + "AB",     # dirty = P+ABX; lev(ABX, AB) = 1 (delete)
        21: P + "ABXY",   # lev 1 (insert)
        22: P + "ABY",    # lev 1 (substitute, pos 18)
        23: P + "AYZ",    # lev 2 — just out
        24: "P" * 15 + "QABX",  # lev 1, but block key differs at char 16
        25: P + "BBX",    # lev 1 (substitute, pos 17 — first past block)
        26: P + "ABX",    # lev 0 — identical
        31: "Q" * 16 + "ZZ",  # unrelated block
    }
    cust = pd.DataFrame(
        {
            "c_custkey": pd.array(sorted(names), dtype="int64"),
            "c_name": [names[k] for k in sorted(names)],
            "c_nationkey": pd.array([0] * len(names), dtype="int32"),
            "c_acctbal": [0.0] * len(names),
            "c_mktsegment": ["BUILDING"] * len(names),
        }
    )

    def lev(a, b):
        import numpy as np
        m = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1,
                                       prev + (ca != cb))
        return int(m[-1])

    dirty = names[20] + "X"
    assert [lev(dirty, names[k]) for k in (26, 20, 21, 22, 25)] == [0, 1, 1, 1, 1]
    assert lev(dirty, names[23]) == 2
    assert lev(dirty, names[24]) == 1 and dirty[:16] != names[24][:16]
    assert dirty[:16] == names[25][:16] and dirty[15] != names[24][15]

    planted = _planted_dir(tmp_path, sf_dir, {"customer": cust})
    name = "b120_record_linkage"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.matched_custkey: r.dist
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got == {26: 0, 20: 1, 21: 1, 22: 1, 25: 1}, got


def test_b171_km_day_boundaries_and_terminal_day(spark, sf_dir, tmp_path):
    """==-boundary plant for Kaplan-Meier's day clock and terminal day
    (round 12): t_day is a CALENDAR-day diff of microsecond timestamps,
    so the boundaries live at midnight, not at elapsed time —

    u1 converts 1 µs after origin but ACROSS midnight   → t_day 1;
    u2 converts 86399.999999 s later, same calendar day → t_day 0;
    u3's first event IS the purchase (origin == conv)   → t_day 0;
    u4 never converts: censored at the corpus horizon, origin late →
       leaves at t_day 1 TOGETHER with u1's conversion (the same-day
       death+censor mix: d = 1, leaving = 2);
    u5/u6 convert at the horizon instant itself → the terminal day has
       d == n_risk == 2, driving the exact fixed-point survival to
       EXACTLY 0 (no sentinel — the r13 integer-recurrence rewrite).

    Day table re-derived by hand: t 0 → (d 2, risk 6), 1 → (1, 4),
    10 → (2, 2); the survival recurrence replayed by hand:
    s(0) = 10¹²·4//6 = 666_666_666_666, s(1) = s(0)·3//4 =
    499_999_999_999 (an odd-quotient floor — the recurrence's own
    ==-boundary), s(10) = 0; strict-compared against the
    recursive-CTE oracle (the two engines' day-diff functions must
    agree at the midnight boundary and their integer walks must match
    step-for-step)."""
    import datetime as dt

    us = dt.timedelta(microseconds=1)
    d1 = dt.datetime(2024, 3, 1)
    rows = []

    def add(t, u, ty, v=1.0):
        rows.append((len(rows) + 1, t, u, ty, v))

    add(dt.datetime(2024, 3, 2) - us, 1, "view")
    add(dt.datetime(2024, 3, 2), 1, "purchase", 5.0)
    add(d1, 2, "view"); add(dt.datetime(2024, 3, 2) - us, 2, "purchase", 5.0)
    add(d1 + dt.timedelta(hours=12), 3, "purchase", 5.0)
    add(dt.datetime(2024, 3, 10, 6), 4, "view")
    add(d1, 5, "view"); add(dt.datetime(2024, 3, 11), 5, "purchase", 5.0)
    add(d1, 6, "view"); add(dt.datetime(2024, 3, 11), 6, "purchase", 5.0)

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    name = "b171_kaplan_meier"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.t_day: (r.n_events, r.n_risk, r.surv_q12)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got == {
        0: (2, 6, 666_666_666_666),
        1: (1, 4, 499_999_999_999),
        10: (2, 2, 0),
    }, got


def test_packing_exact_capacity_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plants for the two context-layout operators (round
    12): both budgets are exact integer cuts at 512 tokens.

    b35 (greedy first-fit, new bin on fill + t > BUDGET):
      s_fit:   256 + 256 == 512 share a bin (the == fit), +1 spills;
      s_over:  256 + 257 == 513 splits;
      s_big:   an exactly-512 doc fills a bin alone;
      s_jumbo: an OVERSIZED 513-token doc mid-stream takes a bin alone
               and the 1-token docs around it get their own bins;
      s_ceil:  n_chars 1023/1024 both ceil to 256 (== fit again) while
               1025 ceils to 257 — the /4 estimator's own boundary.

    b142 (concat-and-chunk): token totals are assigned by md5-ORDER
    POSITION (computed inside the test, so the plant is immune to id
    choice): 512 → the first doc's <eod> is the LAST token of chunk 0
    (a document edge landing exactly ON the chunk edge), then 300 +
    512 + 100 make doc 3 straddle chunks 1→2 and leave a 400-token
    final chunk.  Both strict-compared against their recursive-CTE /
    window oracles."""
    import hashlib as _h

    rows = []

    def add(doc_id, source, n_chars, text="x y z"):
        rows.append((doc_id, text, "en", source, n_chars))

    for i, nc in enumerate([256 * 4, 256 * 4, 1 * 4]):
        add(10 + i, "s_fit", nc)
    for i, nc in enumerate([256 * 4, 257 * 4]):
        add(20 + i, "s_over", nc)
    for i, nc in enumerate([512 * 4, 1 * 4]):
        add(30 + i, "s_big", nc)
    for i, nc in enumerate([1 * 4, 513 * 4, 1 * 4]):
        add(40 + i, "s_jumbo", nc)
    for i, nc in enumerate([1023, 1024, 1025]):
        add(50 + i, "s_ceil", nc)
    docs35 = pd.DataFrame(
        {
            "doc_id": pd.array([r[0] for r in rows], dtype="int64"),
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
            "n_chars": pd.array([r[4] for r in rows], dtype="int64"),
        }
    )
    (tmp_path / "p35").mkdir()
    p35 = _planted_dir(tmp_path / "p35", sf_dir, {"documents": docs35})
    for name in ("b35_sequence_pack", "b35_pack_utilization"):
        compare(
            spark, p35, name, registry.QUERIES[name], registry.ORACLES[name]
        )
    bins = {
        (r.source, r.doc_id): r.bin
        for r in registry.QUERIES["b35_sequence_pack"](spark, p35).collect()
    }
    assert [bins[("s_fit", i)] for i in (10, 11, 12)] == [0, 0, 1]
    assert [bins[("s_over", i)] for i in (20, 21)] == [0, 1]
    assert [bins[("s_big", i)] for i in (30, 31)] == [0, 1]
    assert [bins[("s_jumbo", i)] for i in (40, 41, 42)] == [0, 1, 2]
    assert [bins[("s_ceil", i)] for i in (50, 51, 52)] == [0, 0, 1]

    # --- b142: totals by md5 order position ---
    ids = [70, 71, 72, 73]
    order = sorted(ids, key=lambda i: (_h.md5(str(i).encode()).hexdigest(), i))
    totals = [512, 300, 512, 100]  # tokens INCLUDING the <eod> separator
    texts = {}
    for doc_id, tot in zip(order, totals):
        texts[doc_id] = " ".join(f"w{j}" for j in range(tot - 1))
    docs142 = pd.DataFrame(
        {
            "doc_id": pd.array(ids, dtype="int64"),
            "text": [texts[i] for i in ids],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": pd.array([len(texts[i]) for i in ids], dtype="int64"),
        }
    )
    (tmp_path / "p142").mkdir()
    p142 = _planted_dir(tmp_path / "p142", sf_dir, {"documents": docs142})
    name = "b142_concat_chunk"
    compare(spark, p142, name, registry.QUERIES[name], registry.ORACLES[name])
    chunks = {
        r.chunk_id: (r.n_tokens, r.n_docs, r.chunk_text)
        for r in registry.QUERIES[name](spark, p142).collect()
    }
    assert set(chunks) == {0, 1, 2}
    # doc edge exactly ON the chunk edge: chunk 0 is doc 1 alone and
    # its final token is the separator
    assert chunks[0][0] == 512 and chunks[0][1] == 1
    assert chunks[0][2].endswith(" <eod>")
    assert chunks[1][0] == 512 and chunks[1][1] == 2   # doc 3 straddles
    assert chunks[2][0] == 400 and chunks[2][1] == 2    # partial tail


def _emb_rows(specs) -> pd.DataFrame:
    """embeddings rows from (vec_id, label, {dim: int_value}) specs —
    64-dim float32, integer components only (exact in both engines)."""
    import numpy as np

    ids, labels, vecs = [], [], []
    for vec_id, label, comps in specs:
        v = np.zeros(64, dtype=np.float32)
        for d, x in comps.items():
            assert 0 <= x < 2**24  # float32-exact integers
            v[d] = x
        ids.append(vec_id)
        labels.append(label)
        vecs.append(v)
    return pd.DataFrame(
        {
            "vec_id": pd.array(ids, dtype="int64"),
            "embedding": pd.Series(vecs, dtype="object"),
            "label": pd.array(labels, dtype="int32"),
        }
    )


def _fill_squares(target: int, start_dim: int) -> dict:
    """Greedy decomposition of `target` into integer squares on dims
    start_dim.. (components < 2^24) — norm-filling for exact-cosine
    vectors."""
    import math

    out, d, r = {}, start_dim, target
    while r > 0:
        a = min(math.isqrt(r), 2**24 - 1)
        out[d] = a
        r -= a * a
        d += 1
    assert d <= 64
    return out


def test_similarity_tie_and_rounding_exact_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plants for the distance/vote family (round 12), all
    in exact dyadic arithmetic so both engines compute bit-identical
    cosines:

    b97: a member at c0 + c1 is EXACTLY equidistant from both
    centroids (the same expression by symmetry) — the smaller-cid
    tie-break must place it in cluster 0 in both engines;

    b172, three queries on orthogonal axes:
      q0: an IDENTICAL corpus pair (same vector, labels 5 vs 7)
          contests the 5th vote slot — micro-cosine ties resolve on
          vec_id asc, flipping the 3-2 majority if broken;
      q1: a 2-2-1 vote tie — the smaller label must win;
      q2: the ROUNDING boundary — cos exactly 1/128 makes
          1e6·cos == 7812.5 (dyadic, exactly representable), which
          HALF-UP rounds to 7813 and ties a 16385/2^21 neighbor
          (7812.98… → 7813); a banker's-rounding engine would send it
          to 7812, below a planted 16383/2^21 decoy (7812.02… → 7812,
          smaller vec_id), flipping the prediction from 31 to 33."""
    # ---- b97 corpus: exact centroid tie ----
    b97 = [
        (0, 0, {0: 4}),
        (1, 0, {1: 4}),
        (100, 0, {0: 4, 1: 4}),   # exact tie -> cluster 0
        (101, 0, {0: 8, 1: 1}),
        (102, 0, {0: 1, 1: 8}),
    ]
    (tmp_path / "p97").mkdir()
    p97 = _planted_dir(tmp_path / "p97", sf_dir, {"embeddings": _emb_rows(b97)})
    # b40 shares the argmax machinery — the same exact tie must land in
    # cluster 0 through its per-cluster rollup too
    for name in ("b97_kmeans_update", "b40_centroid_assign"):
        compare(
            spark, p97, name, registry.QUERIES[name], registry.ORACLES[name]
        )
    members = {
        r.cluster_id: r.n_members
        for r in registry.QUERIES["b97_kmeans_update"](spark, p97).collect()
        if r.pos == 0
    }
    assert members == {0: 3, 1: 2}, members  # tie member lands in 0

    # ---- b172 corpus ----
    def axis_vec(axis, x0, nrm):
        comps = {axis: x0}
        comps.update(_fill_squares(nrm * nrm - x0 * x0, 3))
        return comps

    specs = [
        (0, 5, {0: 128}),   # queries: 128*e_axis
        (1, 9, {1: 128}),
        (2, 31, {2: 128}),
        # q0 gadgets (axis 0): top-4 labels 5,5,7,7 then the identical
        # pair at cos 0.3125 — ids 30 < 31
        (20, 5, axis_vec(0, 96, 128)),
        (21, 5, axis_vec(0, 80, 128)),
        (22, 7, axis_vec(0, 64, 128)),
        (23, 7, axis_vec(0, 48, 128)),
        (30, 5, axis_vec(0, 40, 128)),
        (31, 7, axis_vec(0, 40, 128)),
        # q1 gadgets (axis 1): distinct cosines, labels 9,9,11,11,13
        (40, 9, axis_vec(1, 96, 128)),
        (41, 9, axis_vec(1, 80, 128)),
        (42, 11, axis_vec(1, 64, 128)),
        (43, 11, axis_vec(1, 48, 128)),
        (44, 13, axis_vec(1, 40, 128)),
        # q2 (axis 2): three clear (33, 33, 31), then the rounding
        # contest — A at 16385/2^21 (7813), B at 1/128 == 7812.5
        # (HALF-UP 7813), decoy C at 16383/2^21 (7812, smaller id
        # than B so a misrounded B loses the tie to it)
        (50, 33, axis_vec(2, 96, 128)),
        (51, 33, axis_vec(2, 80, 128)),
        (52, 31, axis_vec(2, 64, 128)),
        (53, 31, axis_vec(2, 16385, 2**21)),   # A
        (54, 33, axis_vec(2, 16383, 2**21)),   # C (decoy, id < B)
        (55, 31, axis_vec(2, 16384, 2**21)),   # B: cos exactly 1/128
    ]
    # the dyadic claims, re-derived
    assert 1_000_000 * (16384 / 2**21) == 7812.5
    assert round(16385 * 15625 / 2**15) == 7813
    assert round(16383 * 15625 / 2**15) == 7812
    (tmp_path / "p172").mkdir()
    p172 = _planted_dir(
        tmp_path / "p172", sf_dir, {"embeddings": _emb_rows(specs)}
    )
    name = "b172_knn_label_vote"
    compare(spark, p172, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.query_id: (r.predicted, r.n_votes, r.correct)
        for r in registry.QUERIES[name](spark, p172).collect()
    }
    assert got[0] == (5, 3, True)    # id 30 beat id 31 for the 5th slot
    assert got[1] == (9, 2, True)    # 2-2 vote tie -> smaller label
    assert got[2] == (31, 3, True)   # B rounded HALF-UP into the vote set


def test_b149_semdedup_exact_tau_boundary(spark, sf_dir, tmp_path):
    """==-boundary plant for SemDeDup's keep/drop cut (round 12): the
    predicate is round(1e6·cos) >= 400000 on integer micro-cosine, so
    the boundary lives at the micro value itself.  Dyadic geometry
    (axis component x0, norm 2^21) gives cos = x0/2^21 exactly:
    x0 = 838861 → 1e6·cos = 400000.095… → micro == 400000, AT the cut
    (the higher-id twin must be DROPPED — a strict > would keep it);
    x0 = 838859 → 399999.14… → 399999, one micro below (kept).  The
    two members' norm fillers live on disjoint dims so their mutual
    cosine stays far from τ, and the single centroid sits on its own
    axis (cos 0 to every member) so membership is decided only by the
    planted pair."""
    base = [
        (0, 0, {2: 4}),                       # lone centroid, own axis
        (100, 0, {0: 2**21}),                 # pure axis-0 anchor
        (101, 0, {0: 838861, **_fill_squares(2**42 - 838861**2, 3)}),
        (102, 0, {0: 838859, **_fill_squares(2**42 - 838859**2, 33)}),
    ]
    for vid, _, comps in base[2:]:
        assert max(comps.values()) < 2**24
    assert round(1_000_000 * 838861 / 2**21) == 400000   # AT the cut
    assert round(1_000_000 * 838859 / 2**21) == 399999   # below
    (tmp_path / "p149").mkdir()
    p = _planted_dir(tmp_path / "p149", sf_dir, {"embeddings": _emb_rows(base)})
    name = "b149_semdedup"
    compare(spark, p, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.vec_id: (r.n_sem_dups, r.keep)
        for r in registry.QUERIES[name](spark, p).collect()
    }
    assert got[0] == (0, True)
    assert got[100] == (0, True)     # lower id survives
    assert got[101] == (1, False)    # == tau twin counted, dropped
    assert got[102] == (0, True)     # one micro below, kept


def test_b87_skyline_exact_tie_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for skyline dominance (round 12): dominance
    requires >= on both dims AND strictly better on one, so every
    interesting case is an exact tie —

    two EXACT DUPLICATES (10000 cents, dist 5) dominate each other on
    neither dim: BOTH stay on the frontier (the range-frame tie-group
    rule; a rows-frame or a > in the incl window drops one);
    a same-dist point one cent lower is dominated;
    a same-bal point one dist further is dominated;
    the (200.00, 7) point ties neither way with (100.00, 5) — both
    frontier (the Pareto incomparability case)."""
    rows = [
        (1, "s1", 5, 100.00),
        (2, "s2", 5, 100.00),   # exact duplicate of 1
        (3, "s3", 5, 99.99),    # same dist, one cent lower -> dominated
        (5, "s5", 7, 200.00),
        (6, "s6", 8, 200.00),   # same bal, one dist further -> dominated
    ]
    sup = pd.DataFrame(
        {
            "s_suppkey": pd.array([r[0] for r in rows], dtype="int64"),
            "s_name": [r[1] for r in rows],
            "s_nationkey": pd.array([r[2] for r in rows], dtype="int32"),
            "s_acctbal": [r[3] for r in rows],
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"supplier": sup})
    name = "b87_skyline"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    keys = {
        r.s_suppkey
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert keys == {1, 2, 5}, keys   # both duplicates kept; ties dominated


def test_week_truncation_exact_monday_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for the week-cohort family (round 12): both
    b48 and b112 key on date_trunc('week') of microsecond timestamps,
    so the decisive boundary is Monday 00:00:00.000000 itself —

    user 20 first appears exactly AT Monday 2024-03-04 00:00:00 (the
    cohort must be that same Monday, not the week before); a purchase
    at Sunday 23:59:59.999999 stays week_k 0 while one exactly at the
    NEXT Monday midnight is week_k 1;
    user 21 first appears 1 µs BEFORE that Monday — cohort 2024-02-26,
    one week earlier, so their Monday-03-04 purchase is week_k 1.

    Both engines truncate timestamps to Monday week starts; this pins
    the truncation AND the //7 day-diff at the exact flip instant."""
    import datetime as dt

    us = dt.timedelta(microseconds=1)
    mon = dt.datetime(2024, 3, 4)          # a Monday
    nxt = dt.datetime(2024, 3, 11)         # the next Monday
    rows = []

    def add(t, u, ty, v=1.0):
        rows.append((len(rows) + 1, t, u, ty, v))

    add(mon, 20, "purchase", 1.0)          # cohort anchor AT midnight
    add(nxt - us, 20, "purchase", 2.0)     # Sunday 23:59:59.999999 -> k 0
    add(nxt, 20, "purchase", 4.0)          # next Monday midnight -> k 1
    add(mon - us, 21, "view")              # cohort = 2024-02-26
    add(mon, 21, "purchase", 8.0)          # -> week_k 1 for user 21

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    for name in ("b48_retention", "b112_cohort_ltv"):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )
    ltv = {
        (str(r.cohort_week), r.week_k): (r.week_rev_micro, r.cum_rev_micro)
        for r in registry.QUERIES["b112_cohort_ltv"](spark, planted).collect()
    }
    assert ltv[("2024-03-04 00:00:00", 0)] == (3_000_000, 3_000_000)
    assert ltv[("2024-03-04 00:00:00", 1)] == (4_000_000, 7_000_000)
    assert ltv[("2024-02-26 00:00:00", 1)] == (8_000_000, 8_000_000)
    assert len(ltv) == 3, ltv


def test_b121_floor_division_exact_and_negative_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for linear interpolation's floor division
    (round 12): Spark div and DuckDB // both truncate toward zero, so
    the engine computes floor as (num − nonneg_mod) div den — a rule
    only a NEGATIVE non-divisible slope can distinguish.

    user 30: 0 → −3 micro over 2 days: the midpoint is −3//2 — FLOOR
    gives −2, truncation gives −1 (the planted discriminator);
    user 31: 0 → −4 micro over 2 days: remainder EXACTLY 0 at the
    midpoint (−2, where floor == truncate — the divisibility edge);
    user 32: the positive mirror 0 → +3 (midpoint 1)."""
    import datetime as dt

    d = lambda day: dt.datetime(2024, 3, day)
    rows = []

    def add(t, u, v):
        rows.append((len(rows) + 1, t, u, "view", v))

    add(d(1), 30, 0.0); add(d(3), 30, -0.000003)
    add(d(1), 31, 0.0); add(d(3), 31, -0.000004)
    add(d(1), 32, 0.0); add(d(3), 32, 0.000003)

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    name = "b121_linear_interpolate"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        (r.user_id, str(r.day)): (r.observed, r.v_interp_micro)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got[(30, "2024-03-02 00:00:00")] == (False, -2)  # floor, not truncate
    assert got[(31, "2024-03-02 00:00:00")] == (False, -2)  # exact division
    assert got[(32, "2024-03-02 00:00:00")] == (False, 1)


def test_b125_seasonal_gate_exact_equality_boundary(spark, sf_dir, tmp_path):
    """==-boundary plant for the seasonal anomaly gate (round 12):
    the decision is dev² > n·ssq − s² in exact integers, and with p
    days at count A and q at count B on one weekday, an A-day has
    dev² = q²Δ² against variance pqΔ² — so EQUAL group sizes (p == q)
    land every day EXACTLY ON the boundary (strict >, nothing
    flagged), while p=3, q=4 flags exactly the minority days.

    Mondays: counts 5,5,5,9,9,9 → dev² == var for every day, no flag;
    Tuesdays: counts 5,5,5,9,9,9,9 → the three 5-count days flagged
    (256 > 192), the 9-count days not (144 < 192)."""
    import datetime as dt

    p, q = 3, 3
    assert q * q == p * q                     # the Monday equality
    assert 16 * (5 - 9) ** 2 == 256 and 256 > 192 and 144 < 192

    rows = []

    def day_events(date, n, u0):
        for k in range(n):
            rows.append(
                (len(rows) + 1, date + dt.timedelta(hours=k), u0 + k,
                 "view", 1.0)
            )

    mon = dt.datetime(2024, 3, 4)
    for i, c in enumerate([5, 5, 5, 9, 9, 9]):
        day_events(mon + dt.timedelta(weeks=i), c, 1000 * i)
    tue = dt.datetime(2024, 3, 5)
    for i, c in enumerate([5, 5, 5, 9, 9, 9, 9]):
        day_events(tue + dt.timedelta(weeks=i), c, 50_000 + 1000 * i)

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    name = "b125_seasonal_anomaly"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    flagged = {
        (str(r.day), r.n_events)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert flagged == {
        (str((tue + dt.timedelta(weeks=i)).date()), 5) for i in range(3)
    }, flagged                               # Mondays all AT the boundary


def test_b119_clamp_exact_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for the clamped balance (round 12): a clamp is
    a STRICT new prefix minimum below zero, so the edges are exact —

    u40: +5 then −5 lands EXACTLY on zero (not a clamp: p < 0 strict);
    u41: −3, +3, −3 revisits the SAME trough (equal minimum — the ==
         case must NOT re-clamp: n_clamps 1);
    u42: −3 then −1 goes exactly one micro deeper (n_clamps 2);
    u43: control with an interior clamp and positive final balance,
         recurrence replayed by hand (max(0,·) fold → 4)."""
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1)
    rows = []

    def add(u, k, ty, micro):
        rows.append(
            (len(rows) + 1, t0 + dt.timedelta(minutes=k), u, ty, micro / 1e6)
        )

    add(40, 0, "purchase", 5); add(40, 1, "error", 5)
    add(41, 0, "error", 3); add(41, 1, "purchase", 3); add(41, 2, "error", 3)
    add(42, 0, "error", 3); add(42, 1, "error", 1)
    add(43, 0, "purchase", 2); add(43, 1, "error", 5); add(43, 2, "purchase", 4)

    # hand-replay of the max(0, bal + d) recurrence for each user
    def replay(deltas):
        bal, clamps = 0, 0
        for d in deltas:
            raw = bal + d
            if raw < 0:
                clamps += 1  # strict: raw == 0 is not a clamp
            bal = max(0, raw)
        return clamps, bal

    assert replay([5, -5]) == (0, 0)
    # u41's second −3 lands the balance exactly back on zero (raw == 0,
    # strict < misses it) — equivalently the prefix sum only re-touches
    # its old minimum: the recurrence and the prefix-min identity agree
    # on 1 clamp precisely BECAUSE both comparisons are strict.
    assert replay([-3, 3, -3]) == (1, 0)
    assert replay([-3, -1]) == (2, 0)
    assert replay([2, -5, 4]) == (1, 4)
    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    name = "b119_clamped_balance"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.user_id: (r.n_tx, r.n_clamps, r.final_bal_micro)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got[40] == (2, 0, 0)     # exact zero is not a clamp
    assert got[41] == (3, 1, 0)     # equal trough does not re-clamp
    assert got[42] == (2, 2, 0)     # one micro deeper does
    assert got[43] == (3, 1, 4)      # micro units: the planted deltas are micros


def test_b107_window_extent_exact_boundary(spark, sf_dir, tmp_path):
    """==-boundary plant for the trailing-7-day distinct (round 12):
    the explode factor IS the window length, so the edge is whether a
    day exactly 6 vs 7 days later still shares a window — u50's two
    active days 6 apart overlap in exactly ONE window (13 = 7+7−1
    windows total), u51's 7 apart never co-occur (14 windows).  A
    range(6) or range(8) extent flips both counts."""
    import datetime as dt

    rows = []
    for i, day in enumerate([3, 9]):          # 6 apart — == inclusive
        rows.append((i + 1, dt.datetime(2024, 6, day), 50, "view", 1.0))
    for i, day in enumerate([20, 27]):        # 7 apart — just out
        rows.append((i + 3, dt.datetime(2024, 6, day), 51, "view", 1.0))

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    name = "b107_sliding_distinct"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    wins = {
        str(r.win_day): r.n_users_7d
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert all(v == 1 for v in wins.values())
    assert len(wins) == 13 + 14, wins


def test_b51_grid_exact_day_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for the resample grid (round 12): the grid is
    keyed on day-truncated timestamps, so the decisive edges are a 1 µs
    midnight straddle (two adjacent grid days, NO silent day between),
    a single-active-day user (a one-row grid, days_since_seen 0), and
    a 3-day span whose interior fills with n_events 0 and a carried
    last_seen_day."""
    import datetime as dt

    us = dt.timedelta(microseconds=1)
    rows = []

    def add(t, u):
        rows.append((len(rows) + 1, t, u, "view", 1.0))

    add(dt.datetime(2024, 7, 5, 12), 60)
    add(dt.datetime(2024, 7, 2) - us, 61); add(dt.datetime(2024, 7, 2), 61)
    add(dt.datetime(2024, 7, 1, 6), 62); add(dt.datetime(2024, 7, 4, 6), 62)

    planted = _planted_dir(tmp_path, sf_dir, {"events": _events(rows)})
    name = "b51_resample_ffill"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        (r.user_id, str(r.day)): (r.n_events, r.days_since_seen)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got[(60, "2024-07-05 00:00:00")] == (1, 0)
    assert got[(61, "2024-07-01 00:00:00")] == (1, 0)
    assert got[(61, "2024-07-02 00:00:00")] == (1, 0)   # 1 µs straddle
    assert sum(1 for (u, _d) in got if u == 61) == 2    # no silent day
    assert got[(62, "2024-07-02 00:00:00")] == (0, 1)
    assert got[(62, "2024-07-03 00:00:00")] == (0, 2)
    assert got[(62, "2024-07-04 00:00:00")] == (1, 0)


def test_b18_width_bucket_exact_edge_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for width_bucket (round 12): the oracle
    replays Spark's formula by hand, so any disagreement in edge
    semantics between the BUILT-IN and the transcription (the b116
    lesson: built-in vs hand-rolled is where comparators rot) shows
    only when a value lands EXACTLY on a bucket edge — which the
    2-decimal corpus never does for 30000-wide buckets.  Planted:
    x == lo (bucket 1, left-closed), an interior edge 30000.00
    (bucket 2, not 1), one cent either side, x == hi (overflow
    bucket 21, right-open), one cent below hi (bucket 20), and a
    negative underflow (bucket 0)."""
    prices = {
        1: 0.00,        # == lo            -> 1
        2: 30000.00,    # == interior edge -> 2
        3: 29999.99,    #                  -> 1
        4: 30000.01,    #                  -> 2
        5: 600000.00,   # == hi            -> 21 (overflow)
        6: 599999.99,   #                  -> 20
        7: -0.01,       # underflow        -> 0
    }
    orders = pd.DataFrame(
        {
            "o_orderkey": pd.array(sorted(prices), dtype="int64"),
            "o_orderpriority": ["x"] * len(prices),
            "o_totalprice": [prices[k] for k in sorted(prices)],
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"orders": orders})
    name = "b18_width_bucket"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.bucket: r.min_key
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got == {1: 1, 2: 2, 20: 6, 21: 5, 0: 7}, got


def test_b31_gopher_exact_threshold_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plants for the Gopher gate's four rules (round 12),
    one doc per boundary with the other rules held passing (or its
    verdict read from the per-rule booleans):

    10: exactly 5 words  -> ok_len TRUE (inclusive lower bound);
    11: 4 words          -> FALSE;
    12: mean word length exactly 2.0 (five 2-char stopwords) -> TRUE;
    13: mean 1.8         -> FALSE;
    14: mean exactly 12.0 (five 12-char words) -> ok_word_len TRUE;
    15: mean 12.2        -> FALSE;
    16: alpha exactly 4/5 == 0.8 (one digit-only word) -> TRUE;
    17: alpha 3/5        -> FALSE;
    18: stopword ratio exactly 1/100 == 0.01 -> TRUE;
    19: 1/101            -> FALSE;
    20: exactly 10000 words -> ok_len TRUE (inclusive upper bound);
    21: 10001 words      -> FALSE.

    The ratio boundaries 4/5 and 1/100 round to the same doubles as
    the literals 0.8 and 0.01, so >= holds at exact equality in both
    engines."""
    specs = {
        10: "the cat sat on mat",
        11: "the cat sat on",
        12: "of in of in of",
        13: "of in of in a",
        14: " ".join(["abcdefghijkl"] * 5),
        15: " ".join(["abcdefghijkl"] * 4 + ["abcdefghijklm"]),
        16: "the cat sat on 123",
        17: "the cat 12 34 56",
        18: "the " + " ".join(["zzzz"] * 99),
        19: "the " + " ".join(["zzzz"] * 100),
        20: "the " + " ".join(["aa"] * 9999),
        21: "the " + " ".join(["aa"] * 10000),
    }
    assert len(specs[12].replace(" ", "")) == 2 * 5        # mean == 2.0
    assert len(specs[14].replace(" ", "")) == 12 * 5       # mean == 12.0
    docs = pd.DataFrame(
        {
            "doc_id": pd.array(sorted(specs), dtype="int64"),
            "text": [specs[k] for k in sorted(specs)],
            "lang": ["en"] * len(specs),
            "source": ["plant"] * len(specs),
            "n_chars": pd.array(
                [len(specs[k]) for k in sorted(specs)], dtype="int64"
            ),
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"documents": docs})
    name = "b31_gopher_filters"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.doc_id: (r.ok_len, r.ok_word_len, r.ok_alpha, r.ok_stop, r.keep)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got[10] == (True, True, True, True, True)    # n_words == 5
    assert got[11][0] is False
    assert got[12] == (True, True, True, True, True)    # mean == 2.0
    assert got[13][1] is False
    assert got[14][1] is True                           # mean == 12.0
    assert got[15][1] is False
    assert got[16][2] is True and got[16][4] is True    # alpha == 0.8
    assert got[17][2] is False
    assert got[18][3] is True and got[18][4] is True    # stop == 0.01
    assert got[19][3] is False
    assert got[20][0] is True                           # n_words == 10000
    assert got[21][0] is False


def test_b31_repetition_exact_rounding_half_boundary(spark, sf_dir, tmp_path):
    """==-boundary plant for the repetition statistics' 4-decimal
    rounding (round 12): a 32-word doc with exactly one duplicated
    word makes dup_word_frac = 1/32 = 0.03125 — whose 4-dp rounding
    sits EXACTLY on the half.  Probed both engines: each rounds half
    away from zero (0.0313); a banker's-rounding engine would emit
    0.0312 and split the differential.  A second doc plants the same
    1/32 half on the 5-gram fraction (one repeated 5-window among 32),
    and a fully-unique control pins the zero case."""
    uniq = [f"u{i:02d}" for i in range(40)]
    d1 = " ".join([f"w{i:02d}" for i in range(31)] + ["w00"])   # 32 words, 31 distinct
    block = ["ra", "rb", "rc", "rd", "re"]
    d2 = " ".join(block + uniq[:26] + block)                    # 36 words, one dup 5-gram
    d3 = " ".join(uniq[:12])
    assert len(d1.split()) == 32 and len(set(d1.split())) == 31
    toks2 = d2.split()
    g5 = [" ".join(toks2[i : i + 5]) for i in range(len(toks2) - 4)]
    assert len(g5) == 32 and len(set(g5)) == 31
    docs = pd.DataFrame(
        {
            "doc_id": pd.array([1, 2, 3], dtype="int64"),
            "text": [d1, d2, d3],
            "lang": ["en"] * 3,
            "source": ["plant"] * 3,
            "n_chars": pd.array([len(d1), len(d2), len(d3)], dtype="int64"),
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"documents": docs})
    name = "b31_repetition_filters"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.doc_id: (r.dup_word_frac, r.dup_5gram_frac)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got[1][0] == 0.0313            # 0.03125 rounded half AWAY from zero
    assert got[2][1] == 0.0313
    assert got[3] == (0.0, 0.0)


def test_sampler_hash_cut_exact_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for the hash-cut sampler family (round 12):
    every decision is `md5-bucket < K`, so the boundary is the bucket
    VALUE itself — ids are MINED (md5 of the decimal string, first 8
    hex chars, % n; re-derived in-test like the geo plant) so the
    planted corpus contains buckets exactly 1/2 (the 2-of-16 sample's
    in/out edge) and 79/80/89/90 (the 80/10/10 split's three cuts).
    The fixed-quota samplers get groups of exactly k and k+1 members
    (k = 5 for b124, 50 for b34_stratified): the == k group keeps
    everyone, and WHICH member the k+1 group drops pins the md5
    ordering end-to-end."""
    import hashlib as _h

    def bucket(i, n):
        return int(_h.md5(str(i).encode()).hexdigest()[:8], 16) % n

    # mine one id per needed boundary bucket value
    need16 = {1: None, 2: None}
    need100 = {79: None, 80: None, 89: None, 90: None}
    i = 1000
    while any(v is None for v in need16.values()) or any(
        v is None for v in need100.values()
    ):
        b16, b100 = bucket(i, 16), bucket(i, 100)
        if b16 in need16 and need16[b16] is None:
            need16[b16] = i
        elif b100 in need100 and need100[b100] is None:
            need100[b100] = i
        i += 1
    boundary_ids = list(need16.values()) + list(need100.values())
    g5 = list(range(10_000, 10_005))
    g6 = list(range(20_000, 20_006))
    g50 = list(range(30_000, 30_050))
    g51 = list(range(40_000, 40_051))
    rows = (
        [(d, "bd") for d in boundary_ids]
        + [(d, "g5") for d in g5]
        + [(d, "g6") for d in g6]
        + [(d, "g50") for d in g50]
        + [(d, "g51") for d in g51]
    )
    docs = pd.DataFrame(
        {
            "doc_id": pd.array([r[0] for r in rows], dtype="int64"),
            "text": ["x y z"] * len(rows),
            "lang": [r[1] for r in rows],
            "source": ["plant"] * len(rows),
            "n_chars": pd.array([5] * len(rows), dtype="int64"),
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"documents": docs})
    for name in (
        "b34_hash_sample",
        "b34_stratified_sample",
        "b53_train_val_test",
        "b124_group_sample_k",
    ):
        compare(
            spark, planted, name, registry.QUERIES[name], registry.ORACLES[name]
        )

    all_ids = [r[0] for r in rows]
    sampled = {
        r.doc_id
        for r in registry.QUERIES["b34_hash_sample"](spark, planted).collect()
    }
    assert sampled == {d for d in all_ids if bucket(d, 16) < 2}
    assert need16[1] in sampled and need16[2] not in sampled  # the < 2 edge

    splits = {
        (r.split, r.lang): r.n_docs
        for r in registry.QUERIES["b53_train_val_test"](spark, planted).collect()
    }
    def py_split(d):
        b = bucket(d, 100)
        return "train" if b < 80 else ("val" if b < 90 else "test")
    from collections import Counter
    want = Counter((py_split(d), lang) for d, lang in rows)
    assert splits == dict(want)
    assert py_split(need100[79]) == "train" and py_split(need100[80]) == "val"
    assert py_split(need100[89]) == "val" and py_split(need100[90]) == "test"

    kept = {
        r.doc_id
        for r in registry.QUERIES["b124_group_sample_k"](spark, planted).collect()
        if r.lang in ("g5", "g6")
    }
    assert set(g5) <= kept                          # == k group keeps all
    order6 = sorted(g6, key=lambda d: (_h.md5(str(d).encode()).hexdigest(), d))
    assert kept & set(g6) == set(order6[:5])        # md5-order drop pinned

    strat = {
        r.doc_id
        for r in registry.QUERIES["b34_stratified_sample"](spark, planted).collect()
        if r.lang in ("g50", "g51")
    }
    assert set(g50) <= strat                        # == quota keeps all
    order51 = sorted(g51, key=lambda d: (_h.md5(str(d).encode()).hexdigest(), d))
    assert strat & set(g51) == set(order51[:50])


def test_b29_edit_distance_exact_cut_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for the blocked edit-distance dedup (round
    12), one lang per scenario so pairs can't cross-match:

    e1: exactly 10 substitutions inside the 64-char window -> IN
        (the lev <= 10 cut is inclusive);
    e2: 11 substitutions -> OUT;
    e3: identical 64-char prefix, one doc exactly 8 chars longer ->
        IN with edit_dist 0 (the |Δn_chars| <= 8 guard at equality,
        AND proof the distance is computed on the 64-char truncation);
    e4: 9 chars longer -> OUT despite an identical prefix."""
    P = "P" * 16
    base64 = P + "abcdefghij" + "Q" * 38
    assert len(base64) == 64
    specs = [
        (1, "e1", base64),
        (2, "e1", P + "ABCDEFGHIJ" + "Q" * 38),          # lev == 10
        (3, "e2", base64),
        (4, "e2", P + "ABCDEFGHIJK" + "Q" * 37),         # lev == 11
        (5, "e3", base64 + "tail"),
        (6, "e3", base64 + "tail" + "x" * 8),            # Δ == 8, same 64-prefix
        (7, "e4", base64 + "tail"),
        (8, "e4", base64 + "tail" + "x" * 9),            # Δ == 9
    ]
    assert sum(a != b for a, b in zip(specs[0][2], specs[1][2])) == 10
    assert sum(a != b for a, b in zip(specs[2][2][:64], specs[3][2][:64])) == 11
    docs = pd.DataFrame(
        {
            "doc_id": pd.array([s[0] for s in specs], dtype="int64"),
            "text": [s[2] for s in specs],
            "lang": [s[1] for s in specs],
            "source": ["plant"] * len(specs),
            "n_chars": pd.array([len(s[2]) for s in specs], dtype="int64"),
        }
    )
    planted = _planted_dir(tmp_path, sf_dir, {"documents": docs})
    name = "b29_edit_distance"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got == {(1, 2): 10, (5, 6): 0}, got


def _docs(texts_sources):
    return pd.DataFrame(
        {
            "doc_id": pd.array(range(1, len(texts_sources) + 1), dtype="int64"),
            "text": [t for t, _ in texts_sources],
            "lang": ["en"] * len(texts_sources),
            "source": [s for _, s in texts_sources],
            "n_chars": pd.array(
                [len(t) for t, _ in texts_sources], dtype="int64"
            ),
        }
    )


def test_b101_simpson_floor_and_degenerate_boundaries(spark, sf_dir, tmp_path):
    """==-boundary plant for the r13 exact-integer Simpson rewrite
    (VERDICT r12 item 2): the floor division's own boundaries —

    s_exact: two languages 1+1 → 10⁶·2/4 divides EXACTLY (remainder 0,
             the floor's == case) → 500_000;
    s_floor: 2+1 → ⌊10⁶·5/9⌋ = 555_555 r5 (a truncating quotient —
             both engines must floor, not round);
    s_mono:  a single language → concentration at the 10⁶ ceiling
             exactly (Σc² == N²)."""
    rows = (
        [("en one", "s_exact"), ("fr one", "s_exact")]
        + [("en a", "s_floor"), ("en b", "s_floor"), ("fr c", "s_floor")]
        + [("en x", "s_mono"), ("en y", "s_mono"), ("en z", "s_mono")]
    )
    # lang column drives the grouping, not the text — rewrite langs
    docs = _docs(rows)
    docs["lang"] = ["en", "fr", "en", "en", "fr", "en", "en", "en"]
    planted = _planted_dir(tmp_path, sf_dir, {"documents": docs})
    name = "b101_group_entropy"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = {
        r.source: (r.n_docs, r.n_langs, r.sum_c_sq, r.concentration_ppm)
        for r in registry.QUERIES[name](spark, planted).collect()
    }
    assert got == {
        "s_exact": (2, 2, 2, 500_000),
        "s_floor": (3, 2, 5, 555_555),
        "s_mono": (3, 1, 9, 1_000_000),
    }, got


def test_b158_support_cut_and_ratio_tie_break(spark, sf_dir, tmp_path):
    """==-boundary plant for the r13 exact-ratio PMI rewrite (VERDICT
    r12 item 2): single-bigram documents pin the whole count table —

    (p,q)/(r,s)/(u,v) each appear exactly 5 times with disjoint
    marginals c₁ = c₂ = 5, so all three hit the support cut's == case
    (cnt >= 5) AND collide at the identical exact ratio
    assoc_q6 = ⌊10⁶·19·5/25⌋ = 3_800_000 — the deterministic (w1, w2)
    tie-break must order them identically in both engines;
    (x,y) appears 4 times — one below the support ==, excluded."""
    rows = (
        [("p q", "s1")] * 5
        + [("r s", "s1")] * 5
        + [("u v", "s1")] * 5
        + [("x y", "s1")] * 4
    )
    planted = _planted_dir(tmp_path, sf_dir, {"documents": _docs(rows)})
    name = "b158_pmi_assoc"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    got = [
        (r.w1, r.w2, r.cnt, r.c1, r.c2, r.assoc_q6)
        for r in registry.QUERIES[name](spark, planted).collect()
    ]
    assert got == [
        ("p", "q", 5, 5, 5, 3_800_000),
        ("r", "s", 5, 5, 5, 3_800_000),
        ("u", "v", 5, 5, 5, 3_800_000),
    ], got


def test_b155_mean_probability_gate_exact_threshold(spark, sf_dir, tmp_path):
    """==-boundary plant for the r13 mean-probability gate (VERDICT r12
    item 2): the corpus is built so the fitted LM's fixed-point
    probabilities land exactly ON and just under the τ = 33_500_000 q9
    cut.  Single-bigram documents make each doc's mean one LM cell:

    66 docs "a b" → cnt(a,b) = 66; 65 docs "a c" → cnt(a,c) = 65;
    1867 filler docs "z fNNNN" (distinct second words) set the
    vocabulary so pc(a) + V = 131 + 1869 = 2000 exactly.  Then
    p(a,b) = ⌊10⁹·67/2000⌋ = 33_500_000 == τ → NOT flagged (the gate
    is strictly <), while p(a,c) = ⌊10⁹·66/2000⌋ = 33_000_000 → 
    flagged; a single-token doc exercises the no-bigram left-join path
    (n_bigrams 0, psum 0, unflagged)."""
    rows = (
        [("a b", "s1")] * 66
        + [("a c", "s1")] * 65
        + [(f"z f{i:04d}", "s1") for i in range(1867)]
        + [("solo", "s1")]
    )
    planted = _planted_dir(tmp_path, sf_dir, {"documents": _docs(rows)})
    name = "b155_perplexity_filter"
    compare(spark, planted, name, registry.QUERIES[name], registry.ORACLES[name])
    by_text = {}
    texts = [t for t, _ in rows]
    for r in registry.QUERIES[name](spark, planted).collect():
        by_text.setdefault(texts[r.doc_id - 1].split()[0], set()).add(
            (r.n_bigrams, r.psum_q9, r.high_perplexity)
        )
    assert by_text["a"] == {
        (1, 33_500_000, False),  # == τ exactly: strict < keeps it
        (1, 33_000_000, True),
    }
    assert by_text["solo"] == {(0, 0, False)}
    assert all(flag for _, _, flag in by_text["z"])
