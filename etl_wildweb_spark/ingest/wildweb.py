"""The WildWeb CAD ingest dataflow, re-expressed as composable DataFrame
stages (SURVEY.md §2 Part A, operators A5-A17).

Reference: /root/reference/task.ts (165 lines, TypeScript Lambda).  The
semantics reproduced here — including the JS-truthiness geo filter, the
moment-leniency of the time filter, and the in-place date mutation that
propagates into ``metadata.date`` — are the *verified* behavior tables
in SURVEY.md §A9-A11/§2.1.  Documented divergences (§2.1 decisions):

  * an unparsable envelope becomes an error-channel row instead of
    silently aborting the whole run (task.ts:96 ``return`` quirk);
  * an envelope whose ``data`` is present but not an array of objects
    (``"data": "x"``, ``"data": [1, 2]``) becomes a
    ``decode/data_not_array`` error row (the reference iterates it
    unchecked, task.ts:108), where a PERMISSIVE decode alone would read
    it as ``data: null`` and yield zero incidents with no error;
  * incidents whose date cannot be parsed are routed to the error
    channel instead of emitting an 'Invalid date' feature (task.ts:118).

Every stage is a narrow transformation (no shuffle anywhere in this
pipeline — it is embarrassingly parallel per incident).
``run_pipeline`` decodes each payload once per channel: both channels
read one decoded envelope frame that carries each row's fault.  The
features channel is one generator over the sound envelopes' incident
arrays, with no filter the optimizer could push below the decode, and
the error channel is one generator that emits each envelope's own
fault or, for a sound envelope, the unparsable-date faults of its
incidents.  Throughput is bounded by scan + JSON parse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.js_compat import geo_valid, js_number_sql, truncate_minute
from ..registry import query

# ------------------------------------------------------------------ schemas

#: WildCadIncident (task.ts:7-24): 15 fields, numerics-as-strings
#: (load-bearing — SURVEY.md §1.2).  ``resources`` is Any[] in the
#: reference (task.ts:20) and CHANGELOG.md:88 mandates full-fidelity
#: pass-through, so it is typed VARIANT: objects stay objects, numbers
#: stay numbers, and the submit sink's to_json re-emits the original
#: JSON values instead of double-encoding them as escaped strings
#: (golden test: test_resources_raw_json_fragments).
INCIDENT_FIELDS = [
    "ic", "date", "name", "type", "uuid", "acres", "fuels", "inc_num",
    "fire_num", "latitude", "location", "longitude", "resources",
    "webComment", "fire_status", "fiscal_data",
]

INCIDENT_SCHEMA = T.StructType(
    [
        T.StructField(f, T.VariantType() if f == "resources" else T.StringType())
        for f in INCIDENT_FIELDS
    ]
)

#: API envelope (task.ts:88-91): Array<{retrieved, data: incidents|null}>
ENVELOPE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("retrieved", T.StringType()),
            T.StructField("data", T.ArrayType(INCIDENT_SCHEMA)),
        ]
    )
)

#: The four IncidentRange options (task.ts:27-35) → Spark interval text.
#: task.ts:110-114: parseInt(range.split(' ')[0]) + (Hours→hours else week).
INCIDENT_RANGES = {
    "24 Hours": "24 hours",
    "48 Hours": "48 hours",
    "72 Hours": "72 hours",
    "1 Week": "7 days",
}

ERROR_SCHEMA = T.StructType(
    [
        T.StructField("center", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("payload", T.StringType()),
    ]
)


# ------------------------------------------------------------------- stages

def parse_envelope(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """A5: typed JSON decode of the per-center HTTP response body
    (task.ts:88-91).  PERMISSIVE: unparsable payloads surface as a NULL
    envelope and are routed to the error channel by validate_envelopes
    (the reference throws; divergence documented in module docstring)."""
    return raw.withColumn("envelope", F.from_json(F.col(payload_col), ENVELOPE_SCHEMA))


# The fixed expressions of this pipeline are SQL text, each parsed by one
# ``F.expr`` call.  Each Column method call (``&``, ``.isNull()``,
# ``.alias()``, ``F.col`` ...) also records its Python call site, about
# fifteen round trips to the JVM: assembled that way, the same
# expressions made building ``run_pipeline`` cost 0.22 CPU s per call
# against 0.08-0.10 s (4-core host).

#: SQL: the incident array of the row's one envelope.
_DATA = "element_at(envelope, 1).data"

#: SQL: the row, carrying its ``fault``, passed validation.
_SOUND = "http_ok AND fault IS NULL"


def _envelope_fault() -> Column:
    """A6/A7 + HTTP status check as one column over a parsed envelope row:
    the ``(stage, reason)`` struct that rejects it, or NULL when the row
    is sound.  task.ts semantics: non-OK HTTP → error (task.ts:84-86);
    envelope length ≠ 1 → reference silently aborts the run
    (task.ts:93-97) — here it is an error row; data === null → zero
    incidents, run continues (task.ts:99-104); ``data`` present but not
    an array of objects → error row (module docstring).  A row whose
    ``http_ok`` is NULL gets no fault and is not sound either: it enters
    neither channel.

    PERMISSIVE decode turns an ill-typed ``data`` into NULL, like a
    literal ``null``; the payload is looked at again only for the rows
    whose decoded ``data`` is NULL (CASE and AND evaluate left to right
    and stop early), so a sound row is parsed once."""
    return F.expr(f"""
        CASE
          WHEN NOT http_ok THEN named_struct('stage', 'fetch', 'reason', 'http_not_ok')
          WHEN http_ok AND envelope IS NULL
            THEN named_struct('stage', 'decode', 'reason', 'invalid_json')
          WHEN http_ok AND size(envelope) != 1
            THEN named_struct('stage', 'envelope',
                              'reason', 'cardinality_' || CAST(size(envelope) AS STRING))
          WHEN http_ok AND {_DATA} IS NULL
               AND get_json_object(payload, '$[0].data') IS NOT NULL
            THEN named_struct('stage', 'decode', 'reason', 'data_not_array')
        END""")


def validate_envelopes(env: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A6/A7 + HTTP status check: split envelopes into (ok, errors) on
    ``_envelope_fault``.  ok rows carry (center, retrieved, data); error
    rows record the stage that rejected them."""
    env = env.withColumn("fault", _envelope_fault())
    # one generator, like run_pipeline's: a filter on the sound rows would
    # be pushed below the decode and decode each payload twice.  Null
    # data → zero rows after explode (A7: coalesce to empty)
    ok = env.select("center", F.inline(F.expr(f"""
        CASE WHEN {_SOUND} THEN array(named_struct(
          'retrieved', element_at(envelope, 1).retrieved,
          'data', coalesce({_DATA}, array()))) END""")))
    errors = env.filter(F.col("fault").isNotNull()).select(
        "center", "fault.stage", "fault.reason", "payload"
    )
    return ok, errors


def explode_incidents(ok_env: DataFrame) -> DataFrame:
    """A8: unnest the per-center incident array (task.ts:108).  NULL
    collections were already coalesced to empty → they vanish here."""
    return ok_env.select(
        "center", "retrieved", F.explode("data").alias("incident")
    ).select("center", "retrieved", "incident.*")


def time_filter_condition(incident_range: str | None, now: Column) -> Column:
    """A9 predicate (task.ts:109-116), verified edge semantics: a date
    moment cannot parse is KEPT (isBefore → false).  ``incident_range``
    falsy → no filtering (JS truthiness guard, task.ts:109)."""
    if not incident_range:
        return F.lit(True)
    interval = INCIDENT_RANGES[incident_range]
    ts = F.try_to_timestamp(F.col("date"))
    cutoff = now - F.expr(f"INTERVAL {interval}")
    return ts.isNull() | (ts >= cutoff)


def filter_time_range(
    incidents: DataFrame, incident_range: str | None, now: Column
) -> DataFrame:
    return incidents.filter(time_filter_condition(incident_range, now))


def _unparsable_date(i: str = "") -> str:
    """The A10 date rule as SQL over the incident fields that the prefix
    ``i`` reaches: a date ``try_to_timestamp`` cannot parse."""
    return f"try_to_timestamp({i}date) IS NULL"


def _date_fault(i: str = "") -> str:
    """SQL: the error entry (the ERROR_SCHEMA fields after ``center``)
    for one incident whose date is unparsable; ``i`` as above."""
    return (
        "named_struct('stage', 'normalize_date', 'reason', 'unparsable_date', "
        f"'payload', to_json(named_struct('uuid', {i}uuid, 'date', {i}date)))"
    )


def _dated(incidents: DataFrame) -> DataFrame:
    """The rows ``normalize_dates`` keeps, without building its error
    frame: parseable dates, truncated to the minute."""
    return incidents.filter(F.expr(f"NOT ({_unparsable_date()})")).withColumn(
        "date", truncate_minute("date")
    )


def normalize_dates(incidents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A10 + §2.1.4: truncate-to-minute date rewrite (task.ts:118).  The
    reference mutates in place *before* the metadata spread, so the
    truncated string — not the raw API value — lands in metadata.date;
    we overwrite the ``date`` column for the same effect.  Unparsable
    dates (which the reference would format as 'Invalid date') go to the
    error channel instead."""
    date_err = incidents.filter(F.expr(_unparsable_date())).select(
        "center", F.expr(_date_fault()).alias("e")
    ).select("center", "e.*")
    return _dated(incidents), date_err


def filter_valid_geo(incidents: DataFrame) -> DataFrame:
    """A11 (task.ts:120-124): drop rows whose lon/lat is falsy,
    non-numeric, or exactly 0 (Null Island, CHANGELOG.md:93).  Spark's
    try_cast-to-double reproduces the verified JS Number() truth table —
    including whitespace tolerance (' 105.5 ' kept)."""
    return incidents.filter(geo_valid("longitude") & geo_valid("latitude"))


def to_features(incidents: DataFrame) -> DataFrame:
    """A12-A16 (task.ts:126-140): assemble the GeoJSON Feature struct.

    id = 'wildweb-' + uuid; callsign = name; start = truncated date;
    metadata = full-record pass-through (CHANGELOG.md:88 — column
    pruning must never drop source fields, hence struct of *all* 15);
    geometry.coordinates = [-Number(longitude), Number(latitude)] — the
    feed reports western-hemisphere longitudes positive, so the sign is
    flipped (task.ts:138, CHANGELOG.md:160)."""
    metadata = ", ".join(f"`{f}`" for f in INCIDENT_FIELDS)
    return incidents.select("center", F.expr(f"""
        named_struct(
          'id', 'wildweb-' || uuid,
          'type', 'Feature',
          'properties', named_struct('callsign', name, 'start', date,
                                     'metadata', struct({metadata})),
          'geometry', named_struct(
            'type', 'Point',
            'coordinates', array(-{js_number_sql("longitude")}, {js_number_sql("latitude")})))
        AS feature"""))


def _incident_features(
    incidents: DataFrame, incident_range: str | None, now: Column
) -> DataFrame:
    """A9-A16 chained: the incidents inside ``incident_range`` before
    ``now`` whose date parses and whose geo is valid, as features."""
    in_window = filter_time_range(incidents, incident_range, now)
    return to_features(filter_valid_geo(_dated(in_window)))


def flatten_features(features: DataFrame) -> DataFrame:
    """Flatten the Feature struct to scalar columns (for oracle checks
    and columnar sinks)."""
    return features.select(
        F.col("feature.id").alias("id"),
        F.col("feature.properties.callsign").alias("callsign"),
        F.col("feature.properties.start").alias("start"),
        F.element_at("feature.geometry.coordinates", 1).alias("lon"),
        F.element_at("feature.geometry.coordinates", 2).alias("lat"),
    )


def _error_channel(env: DataFrame) -> DataFrame:
    """The A19 error channel of ``run_pipeline`` as one generator over the
    parsed envelope rows, which carry their ``fault``: each row yields its
    envelope fault if it has one, else the unparsable-date faults of its
    incidents (the rule ``normalize_dates`` applies), else nothing.

    The date faults are taken over the whole decoded ``data`` array,
    before any time-range filter: ``time_filter_condition`` keeps every
    date it cannot parse, so under any ``incident_range`` each
    unparsable date reaches ``normalize_dates`` and becomes an error."""
    entries = F.expr(f"""
        CASE
          WHEN fault IS NOT NULL
            THEN array(named_struct('stage', fault.stage, 'reason', fault.reason,
                                    'payload', payload))
          WHEN {_SOUND}
            THEN transform(filter({_DATA}, i -> {_unparsable_date("i.")}),
                           i -> {_date_fault("i.")})
        END""")
    return env.select("center", F.inline(entries))


def run_pipeline(
    raw_envelopes: DataFrame,
    incident_range: str | None,
    now: Column,
) -> tuple[DataFrame, DataFrame]:
    """The full A5-A17 dataflow over raw per-center fetch results.

    ``raw_envelopes`` schema: (center string, payload string — the HTTP
    body, http_ok boolean).  Returns (features, errors): features is one
    GeoJSON Feature struct per surviving incident; errors is the
    per-source error channel (A19 — the reference accumulates per-center
    errors and still submits partial results, task.ts:75-157).

    Both channels read one decoded frame and its ``fault`` column, and
    neither builds a frame it then drops: the output equals that of the
    public stages chained (tests/test_wildweb.py pins it), without their
    extra decode."""
    env = parse_envelope(raw_envelopes).withColumn("fault", _envelope_fault())
    # NULL data and unsound rows explode to nothing: no filter sits above
    # the decode for the optimizer to push below it and decode again
    incidents = env.select("center", F.inline(F.expr(f"CASE WHEN {_SOUND} THEN {_DATA} END")))
    return _incident_features(incidents, incident_range, now), _error_channel(env)


# --------------------------------------------------- registry entries

# The driver's oracle can only see the shared testdata tables, so the
# hash-checked pipeline query derives WildWeb-shaped string records from
# ``orders`` deterministically (same derivation in the DuckDB SQL below):
# numerics-as-strings, planted invalid coordinates ('0', 'abc', '',
# whitespace-padded), and unparsable dates ('n/a') — every CHANGELOG edge
# case that is derivable without a JSON fixture.  The JSON envelope path
# (A5-A7) is exercised by the golden tests (tests/test_wildweb.py).

_SYNTH_NOW = "1998-01-08 00:00:00"

_SYNTH_EXPRS = {
    "center": "'C' || CAST(o_orderkey % 5 AS STRING)",
    "uuid": "CAST(o_orderkey AS STRING)",
    "name": "o_orderpriority",
    "date": """CASE WHEN o_orderkey % 47 = 0 THEN 'n/a'
        ELSE date_format(o_orderdate + make_interval(0,0,0,0,0,CAST(o_orderkey % 13 AS INT),CAST(o_orderkey % 59 AS INT)), 'yyyy-MM-dd HH:mm:ss') END""",
    "latitude": """CASE WHEN o_orderkey % 37 = 0 THEN '0'
        WHEN o_orderkey % 41 = 0 THEN 'abc'
        ELSE CAST(CAST(36 + (o_orderkey % 400)/100.0 AS DECIMAL(8,2)) AS STRING) END""",
    "longitude": """CASE WHEN o_orderkey % 43 = 0 THEN ''
        WHEN o_orderkey % 53 = 0 THEN ' 105.5 '
        ELSE CAST(CAST(102 + (o_orderkey % 700)/100.0 AS DECIMAL(8,2)) AS STRING) END""",
}

_SYNTH_SQL = """
    SELECT 'C' || CAST(o_orderkey % 5 AS VARCHAR) AS center,
           CAST(o_orderkey AS VARCHAR) AS uuid,
           o_orderpriority AS name,
           CASE WHEN o_orderkey % 47 = 0 THEN 'n/a'
                ELSE strftime(o_orderdate + (o_orderkey % 13) * INTERVAL 1 MINUTE
                                          + (o_orderkey % 59) * INTERVAL 1 SECOND,
                              '%Y-%m-%d %H:%M:%S') END AS date,
           CASE WHEN o_orderkey % 37 = 0 THEN '0'
                WHEN o_orderkey % 41 = 0 THEN 'abc'
                ELSE CAST(CAST(36 + (o_orderkey % 400)/100.0 AS DECIMAL(8,2)) AS VARCHAR) END AS latitude,
           CASE WHEN o_orderkey % 43 = 0 THEN ''
                WHEN o_orderkey % 53 = 0 THEN ' 105.5 '
                ELSE CAST(CAST(102 + (o_orderkey % 700)/100.0 AS DECIMAL(8,2)) AS VARCHAR) END AS longitude
    FROM orders
"""


def _synth_incidents(spark, sf_dir: str) -> DataFrame:
    from ..io import table

    o = table(spark, sf_dir, "orders")
    cols = [F.expr(e).alias(n) for n, e in _SYNTH_EXPRS.items()]
    # remaining incident fields: constants/nulls (full 15-field shape)
    fill = {
        "ic": F.lit(None).cast("string"),
        "type": F.lit("Wildfire"),
        "acres": F.lit("0.1"),
        "fuels": F.lit(None).cast("string"),
        "inc_num": F.lit(None).cast("string"),
        "fire_num": F.lit(None).cast("string"),
        "location": F.lit(None).cast("string"),
        # CAST(NULL AS VARIANT), not try_parse_json(NULL): identical
        # schema and value (verified), but the cast is a foldable
        # literal while try_parse_json evaluated per row — it was the
        # whole ~0.2 s wildweb_pipeline drift between rounds 1 and 4.
        "resources": F.lit(None).cast("variant"),
        "webComment": F.lit(None).cast("string"),
        "fire_status": F.lit("Active"),
        "fiscal_data": F.lit(""),
    }
    return o.select(*cols, *[c.alias(n) for n, c in fill.items()])


def _synth_features(spark, sf_dir: str) -> DataFrame:
    """The synth incidents' features over the '1 Week' before
    ``_SYNTH_NOW``: the input of every synth query that builds them."""
    now = F.lit(_SYNTH_NOW).cast("timestamp")
    return _incident_features(_synth_incidents(spark, sf_dir), "1 Week", now)


@query(
    "wildweb_pipeline",
    oracle=f"""
    WITH synth AS ({_SYNTH_SQL}),
    filtered AS (
      SELECT * FROM synth
      WHERE TRY_CAST(date AS TIMESTAMP) IS NULL
         OR TRY_CAST(date AS TIMESTAMP) >= TIMESTAMP '{_SYNTH_NOW}' - INTERVAL 7 DAY
    ),
    dated AS (
      SELECT *, strftime(date_trunc('minute', TRY_CAST(date AS TIMESTAMP)),
                         '%Y-%m-%d %H:%M') AS start
      FROM filtered WHERE TRY_CAST(date AS TIMESTAMP) IS NOT NULL
    )
    SELECT 'wildweb-' || uuid AS id,
           name AS callsign,
           start,
           -TRY_CAST(longitude AS DOUBLE) AS lon,
           TRY_CAST(latitude AS DOUBLE) AS lat
    FROM dated
    WHERE TRY_CAST(longitude AS DOUBLE) IS NOT NULL AND TRY_CAST(longitude AS DOUBLE) <> 0
      AND TRY_CAST(latitude  AS DOUBLE) IS NOT NULL AND TRY_CAST(latitude  AS DOUBLE) <> 0
    """,
)
def wildweb_pipeline(spark, sf_dir: str) -> DataFrame:
    """A9-A16 end-to-end over orders-derived WildWeb-shaped records:
    time-range filter ('1 Week', fixed now), minute-truncation date
    rewrite, JS-truthiness geo filter, feature assembly + flatten.
    Hash-checked against the identical derivation in DuckDB."""
    return flatten_features(_synth_features(spark, sf_dir))


@query(
    "wildweb_pipeline_errors",
    oracle=f"""
    WITH synth AS ({_SYNTH_SQL})
    SELECT 'normalize_date' AS stage, 'unparsable_date' AS reason, count(*) AS n
    FROM synth WHERE TRY_CAST(date AS TIMESTAMP) IS NULL
    """,
)
def wildweb_pipeline_errors(spark, sf_dir: str) -> DataFrame:
    """A19 error channel: per-stage error accumulation (the engine's
    replacement for the reference's throw-after-submit, task.ts:151-157)."""
    incidents = _synth_incidents(spark, sf_dir)
    in_window = filter_time_range(incidents, "1 Week", F.lit(_SYNTH_NOW).cast("timestamp"))
    _, errors = normalize_dates(in_window)
    return errors.groupBy("stage", "reason").agg(F.count(F.lit(1)).alias("n"))


@query("wildweb_envelope_e2e")  # JSON envelope path → rows-only (A5-A17)
def wildweb_envelope_e2e(spark, sf_dir: str) -> DataFrame:
    """Full pipeline including the JSON envelope decode: wraps the synth
    incidents into per-center JSON envelopes (as the WildWeb API would
    return them), then runs parse→validate→explode→filter→features.
    Rows-only check here; exact-output coverage is in the golden tests."""
    incidents = _synth_incidents(spark, sf_dir)
    payloads = (
        incidents.groupBy("center")
        .agg(F.collect_list(F.struct(*INCIDENT_FIELDS)).alias("data"))
        .select(
            "center",
            F.to_json(
                F.array(
                    F.struct(
                        F.lit("2026-01-01T00:00:00Z").alias("retrieved"),
                        F.col("data").alias("data"),
                    )
                )
            ).alias("payload"),
            F.lit(True).alias("http_ok"),
        )
    )
    features, _ = run_pipeline(
        payloads, "1 Week", F.lit(_SYNTH_NOW).cast("timestamp")
    )
    return flatten_features(features)
