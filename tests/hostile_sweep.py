"""Hostile-session sweep — the driver simulated end to end.

Runs EVERY registered query on a vanilla SparkSession configured
hostilely (America/New_York, ANSI off, 8 shuffle partitions — the
repo's session factory is deliberately bypassed), compares every
oracled query against DuckDB with the same strict comparator the
pytest gate uses (oracle_utils.compare: row count + column set +
order-insensitive normalized value multiset, no float tolerance), and
pushes every rows-only query through the driver's pandas-sort
canonicalizer.  The queries run in ``__spark_entry__.queries()`` order
(sorted by name), so the first 50 are the driver's verification window.

NOTE: uses oracle_utils' fetchall-based comparator, NOT duckdb's
.df() — pandas coerces DuckDB DATE columns to midnight datetimes and
DECIMAL/HUGEINT to float64, which manufactures false mismatches
(hash-unstable types).

Usage:
    python tests/hostile_sweep.py [sf_dir]
Exit code 0 iff every query is green; failures print per-query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str) -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as m
    from tests.oracle_utils import compare

    qs, oracles = m.queries(), m.oracle_sql()
    n_ok = 0
    failures: list[tuple[str, str]] = []
    for i, (name, fn) in enumerate(qs.items()):
        try:
            if name in oracles:
                compare(spark, sf_dir, name, fn, oracles[name])
            else:
                # the driver's rows-only path: full pandas conversion +
                # sort (catches unhashable/unsortable output cells)
                pdf = fn(spark, sf_dir).toPandas()
                pdf.sort_values(by=sorted(pdf.columns), inplace=True)
            n_ok += 1
        except Exception as e:  # noqa: BLE001 — report and continue
            failures.append((name, f"{type(e).__name__}: {e}"))
            print(f"RED {name}: {failures[-1][1][:400]}", flush=True)
        finally:
            # queries that cache multi-consumer intermediates (the
            # minhash/ngram shingle frames, connector fetches) have no
            # post-materialization unpersist point — the sweep owns the
            # session, so it owns cache cleanup (bench.py already does
            # this per pass)
            spark.catalog.clearCache()
        if (i + 1) % 50 == 0:
            print(f"... {i + 1}/{len(qs)} ({n_ok} green)", flush=True)
    n_oracle = sum(1 for n in qs if n in oracles)
    print(
        f"hostile sweep @ {sf_dir}: {n_ok}/{len(qs)} green "
        f"({n_oracle} oracled strict-compared, {len(qs) - n_oracle} rows-only "
        f"canonicalized); {len(failures)} red"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if sys.argv[1:] else "/root/testdata/sf0.01"))
