"""Local stand-in for the driver's correctness gate.

Runs every catalog query on Spark and its oracle on DuckDB over the same
parquet tables, then compares row count, sorted column names, and an
order-insensitive value hash (values normalized: doubles rounded to 9
significant digits, timestamps to ISO strings, NaN/None unified).

Usage: python tools/check_oracle.py [--bare] [--strict] [sf_dir] [name ...]

``--bare`` builds a plain ``SparkSession.builder`` with none of
session.py's DEFAULT_CONF — the same environment the driver runs queries
in — so conf dependencies hidden by our tuned session get caught *before*
the driver's round check (round-2 lesson: nanosAsLong lived only in
session.py and five events queries crashed under the driver).

``--strict`` adds the dtype-faithful check (oracle_compare.strict_problems)
on top of the normalized hash, so int-vs-float / HUGEINT / DECIMAL
divergences that the driver's exact hash would catch fail locally too
(round-5 lesson: sessionize_events).

Set ``CHECK_ORACLE_TIMES_JSON=<path>`` to also write one JSON object of
per-entry wall seconds ({name: sec, ...}, insertion = execution order)
— the committed GATE_TIMES_r{N}.json artifact, so round-over-round
gate-time regressions are diffable the way bench times are (r10
verdict item: they previously lived only in SCALE.md prose).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from virapipe_spark import catalog
from virapipe_spark.oracle_compare import compare_frames
from virapipe_spark.session import session

TABLES = catalog.TABLES


def main() -> int:
    argv = [a for a in sys.argv[1:] if a not in ("--bare", "--strict")]
    bare = "--bare" in sys.argv[1:]
    strict = "--strict" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    catalog.load_all()

    def build_session():
        if bare:
            from pyspark.sql import SparkSession

            return (
                SparkSession.builder.master("local[8]")
                .appName("check_oracle_bare")
                .getOrCreate()
            )
        return session(app_name="check_oracle", shuffle_partitions=8)

    spark = build_session()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    times: dict[str, float] = {}
    times_path = os.environ.get("CHECK_ORACLE_TIMES_JSON")
    names = [n for n in catalog.QUERIES if not only or n in only]
    #: Recycle the JVM every N entries on long runs. localCheckpoint
    #: blocks from iterative entries accumulate for the session's
    #: lifetime (freed only on driver GC of the frame), and the BARE
    #: session runs on Spark's default 1g heap — the r8 full-catalog
    #: sf0.1 gate OOM'd the JVM ~120 heavy entries in, auto-failing
    #: every entry after it. 40 keeps a healthy margin at sf0.1.
    restart_every = int(os.environ.get("CHECK_ORACLE_RESTART_EVERY", "40"))
    done = 0
    for name in names:
        if restart_every and done and done % restart_every == 0:
            spark.stop()
            spark = build_session()
        done += 1
        t0 = time.time()
        try:
            sdf = catalog.QUERIES[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            times[name] = round(time.time() - t0, 3)
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in catalog.ORACLES:
            # Spark-side wall time only (no oracle to run) — still the
            # figure the gate-time diff cares about.
            times[name] = round(time.time() - t0, 3)
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            ddf = con.execute(catalog.ORACLES[name]).df()
        except Exception as e:  # noqa: BLE001
            times[name] = round(time.time() - t0, 3)
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = compare_frames(sdf, ddf, strict=strict)
        dt = time.time() - t0
        times[name] = round(dt, 3)
        if problems:
            failures.append(name)
            print(f"FAIL  {name} ({dt:.1f}s): " + "; ".join(problems))
        else:
            print(f"OK    {name} ({dt:.1f}s, {len(sdf)} rows)")

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if times_path:
        with open(times_path, "w") as fh:
            json.dump(times, fh, indent=1)
        print(f"per-entry wall times -> {times_path}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
