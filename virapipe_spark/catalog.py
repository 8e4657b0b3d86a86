"""Named-query catalog: the driver-facing registry of engine operations.

Every operator from SURVEY.md §2 (plus the training-data extensions) is
registered here as a named query: a ``(spark, sf_dir) -> DataFrame``
callable, optionally paired with an equivalent ANSI-SQL oracle string
runnable by DuckDB over the same parquet tables. The driver compares the
two (row count + schema + order-insensitive value hash) at sf=0.01.

Conventions that keep the comparison honest:

- Every computed/aggregate column is aliased identically on both sides.
- Double aggregates are rounded (2-4 dp) on both sides — float sums are
  order-dependent, and Spark and DuckDB reduce in different orders.
- Top-k queries order by a unique tie-break key so the row set is
  deterministic.
- Timestamps are pinned to UTC (session.py) and compared as-is.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
#: name -> the ``since`` round it was registered with (see :func:`query`).
_SINCE: dict[str, int] = {}

#: Parquet tables the driver provides at each scale factor.
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: The schema contract between the driver's testdata and every catalog
#: query: column -> acceptable Spark dtypes, post-normalization. The
#: driver regenerates the parquet between rounds and its physical types
#: have drifted before (events.ts: TIMESTAMP(NANOS) -> plain
#: timestamp[us]/NTZ in round 4, which broke five queries at analysis
#: time); :func:`table` validates against this contract at read so the
#: NEXT drift fails in one place with a clear message instead of as
#: scattered AnalysisExceptions. Timestamp columns accept both session-
#: zoned and NTZ flavors — every query except the events family is
#: flavor-agnostic, and events.ts is coerced to "timestamp" before
#: validation. Extra columns are allowed (queries select what they
#: need); a MISSING column or an unlisted dtype is a hard error.
EXPECTED_TYPES: dict[str, dict[str, tuple[str, ...]]] = {
    "region": {"r_regionkey": ("int", "bigint"), "r_name": ("string",)},
    "nation": {
        "n_nationkey": ("int", "bigint"),
        "n_name": ("string",),
        "n_regionkey": ("int", "bigint"),
    },
    "customer": {
        "c_custkey": ("int", "bigint"),
        "c_name": ("string",),
        "c_nationkey": ("int", "bigint"),
        "c_acctbal": ("double",),
        "c_mktsegment": ("string",),
    },
    "supplier": {
        "s_suppkey": ("int", "bigint"),
        "s_name": ("string",),
        "s_nationkey": ("int", "bigint"),
        "s_acctbal": ("double",),
    },
    "part": {
        "p_partkey": ("int", "bigint"),
        "p_name": ("string",),
        "p_brand": ("string",),
        "p_type": ("string",),
        "p_size": ("int", "bigint"),
        "p_retailprice": ("double",),
    },
    "orders": {
        "o_orderkey": ("int", "bigint"),
        "o_custkey": ("int", "bigint"),
        "o_orderstatus": ("string",),
        "o_totalprice": ("double",),
        "o_orderdate": ("timestamp", "timestamp_ntz", "date"),
        "o_orderpriority": ("string",),
    },
    "lineitem": {
        "l_orderkey": ("int", "bigint"),
        "l_partkey": ("int", "bigint"),
        "l_suppkey": ("int", "bigint"),
        "l_linenumber": ("int", "bigint"),
        "l_quantity": ("double",),
        "l_extendedprice": ("double",),
        "l_discount": ("double",),
        "l_tax": ("double",),
        "l_returnflag": ("string",),
        "l_linestatus": ("string",),
        "l_shipdate": ("timestamp", "timestamp_ntz", "date"),
    },
    "events": {
        "event_id": ("int", "bigint"),
        "ts": ("timestamp",),  # post-coercion; see table()
        "user_id": ("int", "bigint"),
        "event_type": ("string",),
        "value": ("double",),
        "props": ("string",),
    },
    "documents": {
        "doc_id": ("int", "bigint"),
        "text": ("string",),
        "lang": ("string",),
        "source": ("string",),
        "n_chars": ("int", "bigint"),
    },
    "embeddings": {
        "vec_id": ("int", "bigint"),
        "embedding": ("array<float>", "array<double>"),
        "label": ("int", "bigint"),
    },
}


def _validate_contract(df: DataFrame, name: str) -> None:
    """Raise one clear error listing every way ``df`` departs from the
    :data:`EXPECTED_TYPES` contract for table ``name``."""
    expected = EXPECTED_TYPES.get(name)
    if expected is None:
        return
    actual = dict(df.dtypes)
    problems = [
        f"column {col!r}: "
        + (
            f"got {actual[col]!r}, expected one of {list(oks)}"
            if col in actual
            else f"MISSING (expected one of {list(oks)})"
        )
        for col, oks in expected.items()
        if actual.get(col) not in oks
    ]
    if problems:
        raise TypeError(
            f"testdata drift: driver table {name!r} no longer matches the "
            f"engine's schema contract (catalog.EXPECTED_TYPES) — "
            + "; ".join(problems)
            + ". If the new shape is legitimate, add a normalization in "
            "catalog.table() (precedent: events.ts nanos/NTZ) or widen the "
            "contract."
        )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided parquet table.

    The driver regenerates the testdata between rounds and the physical
    encoding of ``events.ts`` has drifted twice already — parquet
    TIMESTAMP(NANOS) (rounds ≤3), then plain ``timestamp[us]`` with no
    UTC flag, which Spark ≥3.4 surfaces as TIMESTAMP_NTZ (round 4).
    Normalize every flavor to a session-zoned TIMESTAMP so downstream
    `F.unix_micros` / window logic never sees the drift. The session
    timezone is pinned UTC (session.py) and DuckDB treats the same
    parquet values as wall-clock, so each conversion is lossless and
    oracle-neutral.
    """
    if name == "events":
        from pyspark.sql import functions as F

        # The driver builds a bare SparkSession that never goes through
        # session.py's DEFAULT_CONF, so set the nanos conf here too — it is
        # runtime-settable and must be in place *before* the parquet read
        # or Spark raises PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # legacy nanos-as-long encoding
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # parquet timestamp[us], no UTC flag
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        _validate_contract(df, name)
        return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _validate_contract(df, name)
    return df


def query(
    name: str, oracle: str | None = None, since: int = 0
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is the DuckDB-equivalent
    SQL (omit for non-SQL-expressible ops -> rows-only check).

    ``since`` is the round the entry went live (0 for the original
    catalog). :func:`load_all` groups the registry by it, so entries that
    went live later sort after every earlier one; registration order
    breaks ties inside a group."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        _SINCE[name] = since
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _sort_by_since(registry: dict) -> None:
    """Stable-sort ``registry`` in place by each entry's ``since``."""
    order = sorted(registry, key=_SINCE.__getitem__)
    # rebuild only when out of order: repeated loads leave the dict alone
    if order != list(registry):
        items = [(n, registry[n]) for n in order]
        registry.clear()
        registry.update(items)


def load_all() -> None:
    """Import every module that registers queries (idempotent), then
    order the registry by ``since``.

    ``annotation`` registers first (the ``queries`` package imports it)
    so its entries lead each ``since`` group; :func:`ordered_queries`
    breaks ties by this order."""
    from virapipe_spark.queries import (  # noqa: F401
        annotation,
        relational,
        genomics,
        dataflow,
        extensions,
        streaming,
        multimodal,
        tpch,
    )

    _sort_by_since(QUERIES)
    _sort_by_since(ORACLES)


def _verified_rounds(root: str | None = None) -> dict[str, int]:
    """name -> latest round in which the driver proved the query, read
    from the repo's ``CORRECTNESS_r*.json`` files at call time.

    "Proved" means the driver row exists and is clean: for oracle-backed
    entries, rows/schema/hash all matched with no error; for rows-only
    entries (``err == "no_oracle"``), the Spark side executed and
    returned a row count. A hash-fail, schema-fail, or crash does NOT
    count — and if the MOST RECENT check of an entry failed, the entry
    is demoted to never-verified (key absent → sorts first) regardless
    of older green rounds, so a regression rotates straight back into
    the window instead of hiding behind its past passes (precedent:
    ``window_lag_gap`` passed r1 then crashed r2). Self-maintaining:
    each round's driver output rotates the next round's window with no
    hand-edited name lists (rounds 1-3 kept frozensets here; round 4
    derives them)."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest_pass: dict[str, int] = {}
    latest_checked: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                ok = row.get("spark_rows") is not None
            else:
                ok = (
                    not row.get("err")
                    and bool(row.get("rows_match"))
                    and bool(row.get("schema_match"))
                    and bool(row.get("hash_match"))
                )
            if ok:
                latest_pass[name] = max(latest_pass.get(name, 0), rnd)
            if rnd >= latest_checked.get(name, (0, False))[0]:
                latest_checked[name] = (rnd, ok)
    return {
        name: rnd
        for name, rnd in latest_pass.items()
        if latest_checked[name][1]  # most recent check passed
    }


#: Entries whose implementation was REWRITTEN after their latest
#: driver proof (name -> rewrite round). A green driver row proves the
#: plan that ran that round; a proof older than the rewrite says nothing
#: about the current code, so :func:`_ranked` demotes such an entry to
#: rank 0.5 — after the never-proven block (which has first claim on
#: the 50-slot window) but before every stale-but-valid proof,
#: so it re-enters the window the first round with spare slots. Self-
#: healing: once a driver row at-or-after the rewrite round exists the
#: entry ranks by that round again; no manual cleanup. The local pooled
#: compare (tests/test_oracle_reproof.py) re-arms off this same table.
REWRITTEN_IN: dict[str, int] = {
    # (The r8-r11 rows were pruned once every proof round reached its
    # rewrite round — the map only needs rows whose re-proof is still
    # outstanding; git history keeps the retired rationale. The 12 r11
    # rows — the two_phase_rank/prefix_agg rewrites, the HOF let-binds,
    # and the multi-window audit fixes — all re-proved in
    # CORRECTNESS_r11 and were pruned at round-12 start.)
    #
    # r12: the Arrow-boundary audit found applyInPandas delivers each
    # WHOLE (day, shard) group as ONE pandas batch (40.8k rows/batch at
    # the 10x synth — unbounded at 100 TB); stage 1 now pre-aggregates
    # groupBy(day, shard, value).count() JVM-side and builds the digest
    # from weighted points (tdigest.build_weighted). Estimates move
    # within the digest's guarantee (rows-only entry; within_tol
    # self-check + test_tdigest equivalence pins), so the r?-era
    # rows-only proof covers the old plan only.
    "events_tdigest_daily_merge": 12,
    # r12: _minhash_sig_bands/_minhash_pairs gained an optional docs=
    # override for the new exact-dedup->LSH composition
    # (docs_near_dedup_after_exact). The default path is byte-identical
    # (docs=None reads the same table), but the call path changed, so
    # every shared-engine caller re-proves per the r10 rule — these are
    # also the stalest proof cohort (r4-r7), so the re-arm doubles as
    # the designed rotation.
    "docs_minhash_lsh": 12,
    "docs_dedup_clusters": 12,
    "docs_dedup_apply": 12,
    "docs_incremental_dedup": 12,
    "docs_minhash_recall": 12,
    # r12: sessionize rewritten onto scale.KeyedRanges (distributed
    # segmented scan) — per-user windows serialize each user onto one
    # task, the skew-tier blind spot (a 1B-event bot user at 100 TB);
    # bit-identical at sf0.01/sf0.1/skew synth, but the plan changed.
    "sessionize_events": 12,
    # r12 (same rewrite family): the direct lag/lead-shaped per-user
    # window entries ported onto KeyedRanges from the sessionize
    # template — each proven bit-identical at sf0.01 + sf0.1 + the
    # skew synth before replacement.
    "window_lag_gap": 12,
    "events_twap_user": 12,
    "events_markov_transitions": 12,
    "events_bot_regularity": 12,
    "events_streak_lengths": 12,
    # r12 (same family, prefix_last): the forward-fill / as-of-carry
    # windows ported onto KeyedRanges.prefix_last.
    "events_gap_fill_ffill": 12,
    "events_asof_join": 12,
    # r12 (same family): exclusive prefix-max watermark + the two-pass
    # SCD2 lag/lead, both on KeyedRanges.
    "events_late_arrivals": 12,
    "events_scd2_history": 12,
    # r12 (family close-out): the last event-volume per-key window —
    # session-scoped trigram lags become user-level lags (one merged
    # KeyedRanges.lags pass, deep offset-2 boundary carry) masked by
    # session-continuity flags.
    "events_path_trigrams": 12,
}


def _ranked(
    names, proven: dict[str, int], rewritten: dict[str, int] | None = None
) -> list[str]:
    """The window ordering, as a pure function: ``names`` in
    registration order, ``proven`` from :func:`_verified_rounds`.
    Factored out of :func:`ordered_queries` so tests/test_catalog.py
    exercises the real sort against synthetic proof histories."""
    if rewritten is None:
        rewritten = REWRITTEN_IN

    def rank(n: str) -> float:
        r = proven.get(n, 0)
        if 0 < r < rewritten.get(n, 0):
            return 0.5  # proof predates the rewrite: re-prove next
        return float(r)

    return sorted(names, key=rank)


def ordered_queries() -> dict[str, QueryFn]:
    """``QUERIES`` reordered so the driver's correctness window is spent
    on unproven entries first.

    The driver hash-checks only the first 50 entries of
    ``__spark_entry__.queries()`` in iteration order. Sort key: the
    latest round in which the driver proved the entry
    (:func:`_verified_rounds`), ascending — never-proven entries
    (including ones added this round, and any that ever hash-failed)
    sort to 0 and are checked first, then the least-recently-proven.
    Registration order breaks ties (stable sort), so each round's
    checked set is deterministic and the union over rounds converges to
    — then maintains — full catalog coverage."""
    names = _ranked(QUERIES, _verified_rounds())
    return {n: QUERIES[n] for n in names}
