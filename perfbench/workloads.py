"""The benchmark's workloads: one complete pass each, and its output check.

A workload is built once per run from its generated input directory and
its ground truth.  ``run_pass`` issues one complete pass through the
package's public entry points and returns what the pass consumed;
``check`` compares that against the truth and returns the mismatches
(an empty list is a correct pass).  ``extras`` is a traced-only step,
run once per traced run, that measures what the production pass cannot
show on its own (the decode and feature prefixes of the WildWeb
pipeline, the streaming query, the near-duplicate edge set) or layers no
kept workload's pass calls (packing, TPC-H); it is never part of the
timed passes.

Every call into the package sits inside ``tracer.span(layer, label)``.
The tracer records nothing unless the run is traced, so the timed code
is the same in both modes.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from datetime import date, datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

from . import gen

# ---------------------------------------------------------------- WildWeb


class WildWebBatch:
    """Envelope parquet → ingest.wildweb.run_pipeline('1 Week', fixed
    now) → sinks.submit_features(fake_post); the status totals are one
    action, the error channel grouped by (stage, reason) the second."""

    name = "wildweb_batch"
    #: untimed passes in set-up (the first pays codegen and Python-worker
    #: start-up), and the fewest timed passes a run makes: CPU per pass
    #: varies by about 15 % from pass to pass, so the median needs many
    warm_passes = 3
    min_passes = 14
    layers = ("io", "ingest.wildweb", "sinks", "sources.http", "streaming.pipeline")

    def __init__(self, spark, data_dir: str, truth: dict) -> None:
        self.spark = spark
        self.path = os.path.join(data_dir, "envelopes.parquet")
        self.truth = truth

    def _pipeline(self, tracer):
        from pyspark.sql import functions as F

        from etl_wildweb_spark.ingest import wildweb

        with tracer.span("io", "read_envelopes"):
            raw = self.spark.read.parquet(self.path)
        with tracer.span("ingest.wildweb", "run_pipeline"):
            now = F.lit(gen.WILDWEB_NOW.isoformat(sep=" ")).cast("timestamp")
            features, errors = wildweb.run_pipeline(raw, "1 Week", now)
        return raw, features, errors

    def run_pass(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from etl_wildweb_spark import sinks

        _, features, errors = self._pipeline(tracer)
        with tracer.span("sinks", "submit_features", action=True):
            statuses = (
                sinks.submit_features(features, sinks.fake_post)
                .groupBy("ok")
                .agg(F.sum("n_features").alias("n"), F.count(F.lit(1)).alias("chunks"))
                .collect()
            )
        with tracer.span("ingest.wildweb", "errors", action=True):
            err = errors.groupBy("stage", "reason").count().collect()
        return {
            "statuses": {r["ok"]: (r["n"], r["chunks"]) for r in statuses},
            "errors": {(r["stage"], r["reason"]): r["count"] for r in err},
        }

    def check(self, out: dict) -> list[str]:
        bad = []
        delivered = out["statuses"].get(True, (0, 0))[0]
        if delivered != self.truth["features"]:
            bad.append(f"delivered features {delivered} != {self.truth['features']}")
        if False in out["statuses"]:
            bad.append(f"non-2xx sink chunks: {out['statuses'][False]}")
        if out["errors"] != self.truth["errors"]:
            bad.append(f"error channel {out['errors']} != {self.truth['errors']}")
        return bad

    def counts(self, out: dict) -> dict:
        ok = out["statuses"].get(True, (0, 0))
        failed = out["statuses"].get(False, (0, 0))
        return {
            "ingest.wildweb.features": ok[0] + failed[0],
            "ingest.wildweb.errors": sum(out["errors"].values()),
            "sinks.chunks": ok[1] + failed[1],
            "sinks.failed_chunks": failed[1],
        }

    def chunk_ops(self, out: dict) -> tuple[int, int]:
        """(sink chunks posted, chunks answered with a non-2xx status)."""
        c = self.counts(out)
        return c["sinks.chunks"], c["sinks.failed_chunks"]

    def extras(self, tracer, work_dir: str) -> dict:
        counts = self._prefixes(tracer)
        counts.update(self._stream(tracer, work_dir))
        return counts

    def _prefixes(self, tracer) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from etl_wildweb_spark.ingest import wildweb

        raw, features, _ = self._pipeline(tracer)
        with tracer.span("ingest.wildweb", "decode_prefix", action=True):
            ok, _ = wildweb.validate_envelopes(wildweb.parse_envelope(raw))
            obs = Observation("incidents")
            (
                wildweb.explode_incidents(ok)
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .write.format("noop").mode("overwrite").save()
            )
        with tracer.span("ingest.wildweb", "features_prefix", action=True):
            features.write.format("noop").mode("overwrite").save()
        return {"ingest.wildweb.incidents": obs.get["n"]}

    def _stream(self, tracer, work_dir: str) -> dict:
        """The production shape as one streaming query over the seeded
        center list: ``STREAM_POLLS`` poll generations, one epoch each.
        Streamed features must equal ``STREAM_POLLS`` times the batch
        pipeline's output over the same feed, which must equal what the
        feed's bodies hold."""
        from pyspark.sql import functions as F

        from etl_wildweb_spark.ingest import wildweb
        from etl_wildweb_spark.sources import http
        from etl_wildweb_spark.streaming import pipeline

        centers = self.truth["stream_centers"]
        expected = sum(_feed_incidents(http.fake_transport("", c)) for c in centers)
        with tracer.span("sources.http", "read_centers", action=True):
            raw = http.read_centers(self.spark, centers, transport="fake")
            batch = wildweb.run_pipeline(raw, None, F.current_timestamp())[0].count()
        listener = _EpochListener()
        self.spark.streams.addListener(listener)
        try:
            with tracer.span("streaming.pipeline", "run_stream_pipeline", action=True) as span:
                manifests = pipeline.run_stream_pipeline(
                    self.spark, centers, max_polls=STREAM_POLLS,
                    manifest_dir=os.path.join(work_dir, "stream", "manifests"),
                    checkpoint_dir=os.path.join(work_dir, "stream", "checkpoint"))
            deadline = time.monotonic() + 30
            while len(listener.epochs()) < STREAM_POLLS and time.monotonic() < deadline:
                time.sleep(0.05)
        finally:
            self.spark.streams.removeListener(listener)
        if span is not None:
            span.groups.extend(listener.run_ids)
        streamed = sum(m["n_rows"] for m in manifests)
        failed = sum(m["n_failed_chunks"] for m in manifests)
        if batch != expected or streamed != STREAM_POLLS * batch or failed:
            raise AssertionError(
                f"stream: {streamed} features in {len(manifests)} epochs ({failed} failed "
                f"chunks); batch {batch}; the feed holds {expected} per poll")
        epochs = listener.epochs()
        if sorted(epochs) != list(range(STREAM_POLLS)):
            raise AssertionError(f"stream: progress for epochs {sorted(epochs)}")
        # epoch 0 carries the query's one-time start-up; the rest are warm
        warm = [epochs[b] for b in range(1, STREAM_POLLS)]
        out = {f"streaming.pipeline.{name}": statistics.median(d.get(key, 0) for d in warm)
               for name, key in STREAM_DURATIONS.items()}
        out["streaming.pipeline.epochs"] = len(epochs)
        return out


#: Poll generations (= epochs) the traced stream runs.
STREAM_POLLS = 6

#: per-layer metric name -> StreamingQueryProgress.durationMs key
STREAM_DURATIONS = {
    "epoch_ms": "triggerExecution",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def _feed_incidents(response: tuple[int, str]) -> int:
    """Incidents in one fake-feed response that the pipeline turns into
    features: a 2xx, single-envelope body with a data list."""
    status, body = response
    if not 200 <= status < 300:
        return 0
    try:
        env = json.loads(body)
    except json.JSONDecodeError:
        return 0
    if len(env) != 1 or not isinstance(env[0].get("data"), list):
        return 0
    return len(env[0]["data"])


class _EpochListener(StreamingQueryListener):
    """Collects each epoch's ``durationMs`` and the query's run id."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.progress: dict[int, dict] = {}

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows:
            self.progress[p.batchId] = dict(p.durationMs)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def epochs(self) -> dict[int, dict]:
        return dict(self.progress)


# ----------------------------------------------------------------- corpus

#: entry point → the module (layer) that defines it.  Both consumers
#: re-derive the n-gram Jaccard edges and their clusters today.
CORPUS_QUERIES = {
    "b29_dedup_canonical": "operators.dedup",
    "b144_leakage_safe_split": "operators.sampling",
}


class CorpusDedup:
    """The outputs a corpus job needs, each consumed once: the canonical
    keep set and the leakage-safe split.  The edge set, the cluster
    table, the packed sequences and the JVM-only TPC-H queries (the
    control layers) are measured in the traced extras."""

    name = "corpus_dedup"
    #: CPU per pass still falls by a third over the three passes after
    #: the first, most steeply in the first of them
    warm_passes = 2
    min_passes = 5
    layers = ("operators.dedup", "operators.sampling", "operators.packing",
              "operators.tpch", "operators.relational")

    def __init__(self, spark, data_dir: str, truth: dict) -> None:
        self.spark = spark
        self.dir = data_dir
        self.truth = truth

    def run_pass(self, tracer) -> dict:
        from etl_wildweb_spark import registry

        out = {}
        for q, layer in CORPUS_QUERIES.items():
            with tracer.span(layer, q, action=True):
                out[q] = registry.QUERIES[q](self.spark, self.dir).collect()
        return out

    def check(self, out: dict) -> list[str]:
        t, bad = self.truth, []
        kept = {tuple(r[c] for c in ("doc_id", "lang", "source", "n_chars"))
                for r in out["b29_dedup_canonical"]}
        if len(out["b29_dedup_canonical"]) != len(kept) or kept != t["kept"]:
            bad.append("b29_dedup_canonical: kept documents differ from the planted canonicals")
        splits = {(r["split"], r["n_docs"], r["n_clusters"]) for r in out["b144_leakage_safe_split"]}
        if sum(s[1] for s in splits) != t["docs"]:
            bad.append("b144_leakage_safe_split: documents lost or duplicated")
        if sum(s[2] for s in splits) != t["all_clusters"]:
            bad.append("b144_leakage_safe_split: a cluster straddles two splits")
        if splits != t["splits"]:
            bad.append(f"b144_leakage_safe_split: {sorted(splits)} != {sorted(t['splits'])}")
        return bad

    def counts(self, out: dict) -> dict:
        return {}

    def chunk_ops(self, out: dict) -> tuple[int, int]:
        return 0, 0

    def extras(self, tracer, work_dir: str) -> dict:
        """The edge set and the cluster table the pass derives inside
        both consumers, through their own entry points, and the packed
        sequences."""
        from etl_wildweb_spark import registry

        with tracer.span("operators.dedup", "b29_ngram_jaccard", action=True):
            edges = registry.QUERIES["b29_ngram_jaccard"](self.spark, self.dir).count()
        with tracer.span("operators.dedup", "b29_cc_bigstar", action=True):
            rows = registry.QUERIES["b29_cc_bigstar"](self.spark, self.dir).collect()
        clustered = {(r["doc_id"], r["cluster_id"]) for r in rows}
        if edges != self.truth["edges"] or clustered != self.truth["clustered"]:
            raise AssertionError("near-duplicate edges or clusters differ from the planted ones")
        with tracer.span("operators.packing", "b35_sequence_pack", action=True):
            rows = registry.QUERIES["b35_sequence_pack"](self.spark, self.dir).collect()
        packed = {(r["source"], r["doc_id"], r["n_tokens"], r["bin"]) for r in rows}
        fill: dict = {}
        for src, _, n_tok, b in packed:
            fill.setdefault((src, b), []).append(n_tok)
        if sum(p[2] for p in packed) != self.truth["tokens"]:
            raise AssertionError("b35_sequence_pack: token total not conserved")
        if any(len(v) > 1 and sum(v) > gen.PACK_BUDGET for v in fill.values()):
            raise AssertionError("b35_sequence_pack: a multi-document bin exceeds the budget")
        if packed != self.truth["packed"]:
            raise AssertionError("b35_sequence_pack: bins differ from the greedy fold")
        tpch = TpchQueries(self.spark, os.path.join(self.dir, "tpch"))
        with tracer.paused():  # the first run of each plan pays its codegen
            bad = tpch.check(tpch.run(tracer))
        bad += tpch.check(tpch.run(tracer))
        if bad:
            raise AssertionError(f"tpch: {bad}")
        return {"operators.dedup.edges": edges,
                "operators.dedup.clusters": len({c for _, c in clustered}),
                "operators.packing.bins": len(fill)}



# ------------------------------------------------------------------ TPC-H

TPCH_QUERIES = {
    "flagship_revenue_by_nation": "operators.relational",
    "tpch_q6": "operators.tpch",
    "tpch_q18": "operators.tpch",
}

_TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _norm(v):
    """Value normalisation for the order-insensitive multiset compare."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def multiset(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def oracle_results(data_dir: str, names) -> dict:
    """DuckDB runs each query's registered oracle over the same files."""
    import duckdb

    from etl_wildweb_spark import registry

    con = duckdb.connect()
    try:
        for t in _TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for q in names:
            res = con.execute(registry.ORACLES[q])
            cols = [c[0] for c in res.description]
            out[q] = (sorted(cols), multiset(cols, res.fetchall()))
        return out
    finally:
        con.close()


class TpchQueries:
    """Scan, codegen, joins, aggregation and AQE: one relational and two
    TPC-H entry points over the generated tables, each result collected
    and compared with its DuckDB oracle as a multiset of rows."""

    def __init__(self, spark, data_dir: str) -> None:
        self.spark = spark
        self.dir = data_dir
        self.expected = oracle_results(data_dir, TPCH_QUERIES)

    def run(self, tracer) -> dict:
        from etl_wildweb_spark import registry

        out = {}
        for q, layer in TPCH_QUERIES.items():
            with tracer.span(layer, q, action=True):
                df = registry.QUERIES[q](self.spark, self.dir)
                out[q] = (df.columns, df.collect())
        return out

    def check(self, out: dict) -> list[str]:
        bad = []
        for q, (cols, rows) in out.items():
            want_cols, want = self.expected[q]
            if sorted(cols) != want_cols:
                bad.append(f"{q}: columns {sorted(cols)} != {want_cols}")
            elif multiset(cols, rows) != want:
                bad.append(f"{q}: result differs from the DuckDB oracle")
        return bad


WORKLOADS = {w.name: w for w in (WildWebBatch, CorpusDedup)}
