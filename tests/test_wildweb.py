"""Golden tests for the WildWeb pipeline (SURVEY.md §5.2.2, FIXTURES.md §B).

Every CHANGELOG-derived edge case from the reference becomes a fixture
row; expected behavior follows the verified semantics tables in
SURVEY.md §A9-A11 / §2.1.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_wildweb_spark.ingest import wildweb as ww

NOW = "2026-08-13T12:00:00Z"


def incident(**kw) -> dict:
    base = {f: None for f in ww.INCIDENT_FIELDS}
    base.update(
        date="2026-08-13T10:30:45.123Z",
        name="Fire A",
        type="Wildfire",
        uuid="u-base",
        latitude="38.5",
        longitude="105.25",
        fire_status="Active",
        fiscal_data="",
    )
    base.update(kw)
    return base


def envelope_payload(incidents, retrieved="2026-08-13T11:59:00Z", n_env=1):
    env = [{"retrieved": retrieved, "data": incidents}] * n_env
    return json.dumps(env)


def raw_df(spark, rows):
    return spark.createDataFrame(rows, "center string, payload string, http_ok boolean")


def run(spark, rows, incident_range="24 Hours"):
    feats, errs = ww.run_pipeline(
        raw_df(spark, rows), incident_range, F.lit(NOW.replace("Z", "")).cast("timestamp")
    )
    return feats.collect(), errs.collect()


def test_happy_path_feature_shape(spark):
    rows = [("COPBC", envelope_payload([incident()]), True)]
    feats, errs = run(spark, rows)
    assert not errs
    assert len(feats) == 1
    f = feats[0].feature
    # A12: key synthesis (task.ts:127)
    assert f.id == "wildweb-u-base"
    assert f.type == "Feature"
    # A13: renames (task.ts:130-131)
    assert f.properties.callsign == "Fire A"
    # A10: truncate-to-minute, 'yyyy-MM-dd HH:mm' UTC (task.ts:118)
    assert f.properties.start == "2026-08-13 10:30"
    # mutation-before-spread: metadata.date is the truncated string
    assert f.properties.metadata.date == "2026-08-13 10:30"
    # A14: full 15-field pass-through (CHANGELOG.md:88)
    assert sorted(f.properties.metadata.asDict()) == sorted(ww.INCIDENT_FIELDS)
    # A15: sign flip — western-hemisphere positive feed (CHANGELOG.md:160)
    assert f.geometry.type == "Point"
    assert f.geometry.coordinates == [-105.25, 38.5]


@pytest.mark.parametrize(
    "lon,lat,kept",
    [
        ("105.25", "38.5", True),
        ("0", "38.5", False),       # Null Island lon (CHANGELOG.md:93)
        ("105.25", "0", False),     # Null Island lat
        ("0.0", "38.5", False),     # Number('0.0') === 0
        ("", "38.5", False),        # falsy ''
        (None, "38.5", False),      # null
        ("abc", "38.5", False),     # NaN
        (" 105.5 ", "38.5", True),  # whitespace-tolerant Number()
    ],
)
def test_geo_filter_js_truth_table(spark, lon, lat, kept):
    rows = [("C1", envelope_payload([incident(longitude=lon, latitude=lat)]), True)]
    feats, _ = run(spark, rows)
    assert (len(feats) == 1) == kept


@pytest.mark.parametrize(
    "date,range_,kept",
    [
        ("2026-08-12T13:00:00Z", "24 Hours", True),   # 23h old
        ("2026-08-12T11:00:00Z", "24 Hours", False),  # 25h old
        ("2026-08-12T11:00:00Z", "48 Hours", True),
        ("2026-08-10T11:00:00Z", "72 Hours", False),  # 73h old
        ("2026-08-10T13:00:00Z", "72 Hours", True),
        ("2026-08-05T11:00:00Z", "1 Week", False),    # 8d old
        ("2026-08-07T13:00:00Z", "1 Week", True),
    ],
)
def test_time_range_filter(spark, date, range_, kept):
    rows = [("C1", envelope_payload([incident(date=date)]), True)]
    feats, _ = run(spark, rows, incident_range=range_)
    assert (len(feats) == 1) == kept


def test_no_range_keeps_everything(spark):
    # JS truthiness guard (task.ts:109): falsy IncidentRange → no filter
    rows = [("C1", envelope_payload([incident(date="1999-01-01T00:00:00Z")]), True)]
    feats, _ = run(spark, rows, incident_range=None)
    assert len(feats) == 1


def test_unparsable_date_kept_by_filter_routed_to_errors(spark):
    # moment-invalid → isBefore false → KEPT by time filter (task.ts:113),
    # then error-channel instead of 'Invalid date' output (§2.1.4)
    rows = [("C1", envelope_payload([incident(date="n/a", uuid="u-bad")]), True)]
    feats, errs = run(spark, rows)
    assert not feats
    assert len(errs) == 1
    assert errs[0].stage == "normalize_date"
    assert "u-bad" in errs[0].payload


def test_null_data_is_zero_rows_run_continues(spark):
    # CHANGELOG.md:84 (v3.1.0): API returns null instead of [] → continue
    rows = [
        ("C1", json.dumps([{"retrieved": NOW, "data": None}]), True),
        ("C2", envelope_payload([incident(uuid="u-2")]), True),
    ]
    feats, errs = run(spark, rows)
    assert [f.feature.id for f in feats] == ["wildweb-u-2"]
    assert not errs


def test_envelope_cardinality_error_channel(spark):
    # task.ts:93-97: reference silently aborts; engine records + continues
    rows = [
        ("C1", envelope_payload([incident(uuid="u-1")], n_env=2), True),
        ("C2", envelope_payload([incident(uuid="u-2")]), True),
    ]
    feats, errs = run(spark, rows)
    assert [f.feature.id for f in feats] == ["wildweb-u-2"]
    assert len(errs) == 1 and errs[0].reason == "cardinality_2"


def test_http_error_other_centers_unaffected(spark):
    # CHANGELOG.md:63 (v4.1.0): per-center error resilience
    rows = [
        ("C1", "upstream 502", False),
        ("C2", envelope_payload([incident(uuid="u-2")]), True),
    ]
    feats, errs = run(spark, rows)
    assert [f.feature.id for f in feats] == ["wildweb-u-2"]
    assert len(errs) == 1 and errs[0].stage == "fetch"


def test_invalid_json_error_channel(spark):
    rows = [("C1", "<html>gateway timeout</html>", True)]
    feats, errs = run(spark, rows)
    assert not feats
    assert len(errs) == 1 and errs[0].reason == "invalid_json"


#: One center per edge case, plus one sound incident inside every range.
EDGE_ROWS = [
    ("ok", envelope_payload([incident(uuid="u-ok", date="2026-08-13T11:00:00Z")]), True),
    ("http_null", envelope_payload([incident()]), None),  # in neither channel
    ("empty", "[]", True),
    ("null_env", "[null]", True),  # one envelope, no retrieved, no data
    ("null_payload", None, True),
    ("null_incident", json.dumps([{"retrieved": NOW, "data": [None]}]), True),
    ("empty_date", envelope_payload([incident(uuid="u-empty", date="")]), True),
    # a ``data`` that is not an array of objects decodes to NULL, like
    # ``data: null``, but broke the contract: an error row, no incidents
    ("data_string", json.dumps([{"retrieved": NOW, "data": "x"}]), True),
    ("data_numbers", json.dumps([{"retrieved": NOW, "data": [1, 2]}]), True),
]

EDGE_ERRORS = [
    ("data_numbers", "decode", "data_not_array", EDGE_ROWS[-1][1]),
    ("data_string", "decode", "data_not_array", EDGE_ROWS[-2][1]),
    ("empty", "envelope", "cardinality_0", "[]"),
    ("empty_date", "normalize_date", "unparsable_date", '{"uuid":"u-empty","date":""}'),
    ("null_incident", "normalize_date", "unparsable_date", "{}"),
    ("null_payload", "decode", "invalid_json", None),
]


@pytest.mark.parametrize("incident_range", [None, *ww.INCIDENT_RANGES])
def test_edge_case_table(spark, incident_range):
    # unparsable dates pass the time filter under every range (task.ts:113),
    # so the error channel must not depend on the range
    feats, errs = run(spark, EDGE_ROWS, incident_range)
    assert [f.feature.id for f in feats] == ["wildweb-u-ok"]
    assert sorted(tuple(e) for e in errs) == EDGE_ERRORS


#: EDGE_ROWS plus incidents spread over every range's cutoff and the geo
#: filter, so the ranges select different features.
EQUIV_ROWS = EDGE_ROWS + [
    ("spread", envelope_payload([
        incident(uuid=f"u-{i}", date=d)
        for i, d in enumerate([  # 0 h, 30 h, 60 h, 80 h and 200 h before NOW
            "2026-08-13T12:00:00Z", "2026-08-12T06:00:00Z", "2026-08-11T00:00:00Z",
            "2026-08-10T04:00:00Z", "2026-08-05T04:00:00Z",
        ])
    ] + [incident(uuid="u-geo", longitude="0")]), True),
]


@pytest.mark.parametrize("incident_range", [None, *ww.INCIDENT_RANGES])
def test_run_pipeline_equals_public_stages(spark, incident_range):
    # run_pipeline builds its channels without the public stages; its
    # rows must still be theirs chained, errors as a multiset
    from collections import Counter

    raw = raw_df(spark, EQUIV_ROWS)
    now = F.lit(NOW.replace("Z", "")).cast("timestamp")
    ok, env_errs = ww.validate_envelopes(ww.parse_envelope(raw))
    in_window = ww.filter_time_range(ww.explode_incidents(ok), incident_range, now)
    dated, date_errs = ww.normalize_dates(in_window)
    feats, errs = ww.run_pipeline(raw, incident_range, now)

    def rows(df):
        return Counter(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())

    want = rows(ww.to_features(ww.filter_valid_geo(dated)))
    assert rows(feats) == want
    assert len(want) == {None: 6, "24 Hours": 2, "48 Hours": 3, "72 Hours": 4}.get(incident_range, 5)
    assert rows(errs) == rows(env_errs) + rows(date_errs)


def test_duplicate_uuid_across_centers_not_deduped(spark):
    # task.ts:127: reference does NOT dedup; same id enables downstream
    # idempotent upsert (FIXTURES.md B1 case 6)
    rows = [
        ("C1", envelope_payload([incident(uuid="dup")]), True),
        ("C2", envelope_payload([incident(uuid="dup")]), True),
    ]
    feats, _ = run(spark, rows)
    assert sorted(f.feature.id for f in feats) == ["wildweb-dup", "wildweb-dup"]


def test_all_nullable_null_passthrough(spark):
    # FIXTURES.md B1 case 7: nullable fields null → kept, all 15 in metadata
    rows = [("C1", envelope_payload([incident()]), True)]
    feats, _ = run(spark, rows)
    md = feats[0].feature.properties.metadata
    assert md.ic is None and md.acres is None and md.webComment is None


def test_resources_raw_json_fragments(spark):
    # resources: Any[] (task.ts:20) typed VARIANT → object/number/string
    # elements keep their JSON identity end to end
    res = [{"res": "E-1"}, "T-2", 3]
    rows = [("C1", envelope_payload([incident(resources=res)]), True)]
    feats, _ = run(spark, rows)
    got = feats[0].feature.properties.metadata.resources
    assert json.loads(got.toJson()) == res


def test_resources_roundtrip_through_submit_json(spark):
    # ADVICE round 1: the submit sink's to_json must re-emit resources
    # as raw JSON values (an array<string> typing double-encoded object
    # elements as escaped strings).  Serialize the feature with the
    # sinks' one serializer and check the payload byte-for-byte
    # semantics.
    from etl_wildweb_spark.ingest.wildweb import run_pipeline
    from etl_wildweb_spark.sinks import _feature_json

    res = [{"res": "E-1", "n": 2}, "T-2", 3, None]
    rows = [("C1", envelope_payload([incident(resources=res)]), True)]
    raw = spark.createDataFrame(rows, "center string, payload string, http_ok boolean")
    features, _ = run_pipeline(raw, None, F.current_timestamp())
    fc_json = _feature_json(features).collect()[0].feature_json
    feature = json.loads(fc_json)
    assert feature["properties"]["metadata"]["resources"] == [
        {"n": 2, "res": "E-1"},  # variant normalizes key order only
        "T-2",
        3,
        None,
    ]


def test_capabilities_publishes_contract_schemas(spark, sf_dir):
    # A21 (task.ts:52-65): the engine publishes its input/output
    # schemas machine-readably, incl. per-query resolved schemas
    import json

    from etl_wildweb_spark import registry
    from etl_wildweb_spark.ingest.wildweb import INCIDENT_FIELDS

    caps = registry.capabilities(
        spark, sf_dir, names=["flagship_revenue_by_nation", "wildweb_pipeline"]
    )
    incident = json.loads(caps["output"]["incident"])
    assert [f["name"] for f in incident["fields"]] == INCIDENT_FIELDS
    assert set(caps["input"]["config"]["IncidentRange"]) == {
        "24 Hours", "48 Hours", "72 Hours", "1 Week",
    }
    flagship = json.loads(caps["queries"]["flagship_revenue_by_nation"])
    assert {f["name"] for f in flagship["fields"]} >= {"n_name"}
